"""Shared fuzz-suite helper: overlap independent, PRE-GENERATED programs.

The fuzz families each run N independent programs, and each program is a
couple of tiny Spark jobs plus a DuckDB replay — latency-bound, not
compute-bound.  Spark happily schedules concurrent jobs from driver
threads (optimization-guide §2.6), so executing pre-generated programs
from a small pool overlaps all that waiting without changing a single
program: generation stays SEQUENTIAL on the seeded rng (bit-identical
program streams), only execution is concurrent.  Each program must use
its own DuckDB connection (the module-level default connection is not
thread-safe).  Exceptions (including assertion failures) propagate to
the caller on the first failed program, and the programs still queued
are cancelled.  Each program runs in its own `owned()` scope (a
contextvar does not flow into pool threads), so whatever it persisted or
checkpointed is released when it finishes.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, as_completed

from tabsdata_spark import owned


def run_concurrent(programs, run_one, workers: int = 6) -> None:
    def owned_run(program):
        with owned():
            run_one(program)

    with ThreadPoolExecutor(max_workers=workers) as ex:
        futures = [ex.submit(owned_run, p) for p in programs]
        try:
            for fut in as_completed(futures):
                fut.result()
        finally:
            ex.shutdown(cancel_futures=True)
