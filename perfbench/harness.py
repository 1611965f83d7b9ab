"""The closed-loop op runner shared by the workloads.

One client thread issues one op at a time; the next starts when the
previous returns.  Each op is timed alone: its output check, the cache-leak
count and the cache clear all run after the clock stops, so no op reads an
intermediate that the warm-up or an earlier op left behind.

A run measures in parts, one after each of its set-ups; the harness keeps
the samples of every part.

In a traced run every op kind alternates traced and untraced ops in ABBA
order.  Traced ops carry spans and Spark's own counters; the untraced ones
give the same-process baseline for the tracing overhead.
"""

from __future__ import annotations

import time
import traceback

from stats import geomean, median, round_total, self_time, tail
from probes import SparkProbe, Tracer, cpu_steal_s


class Harness:
    def __init__(self, spark, seconds: float, trace: bool):
        self.seconds = seconds                  # per window part
        self.trace = trace
        self.tracer = Tracer()
        self.probe = SparkProbe(spark)
        self.setup_end: float | None = None     # wall time the last part opened
        self.steal_s = 0.0                      # over every part
        self.window_s = 0.0
        self.rounds = 0
        # op kinds the end-to-end op latency covers (None: every kind)
        self.primary: set[str] | None = None
        self.deadline = float("inf")
        self.times: dict[str, list[float]] = {}         # untraced op seconds
        self.traced_times: dict[str, list[float]] = {}
        self.layers: dict[str, list[dict[str, float]]] = {}
        self.attempted = 0
        self.failed_ops: list[tuple[str, str]] = []
        self.leaks = {"cache.leaked_rdds": 0, "cache.leaked_plans": 0}
        self.meta_methods: dict[str, list[float]] = {}   # method -> [calls, s]
        self._kind_count: dict[str, int] = {}

    # -- timeline -----------------------------------------------------------
    def expired(self) -> bool:
        return time.perf_counter() >= self.deadline

    def rebind(self, spark) -> None:
        """Read the accounting of a fresh session from here on."""
        self.probe = SparkProbe(spark)

    def run_rounds(self, round_kinds, run) -> None:
        """Open a part of the window and issue rounds until it closes: round
        r (counted over every part) calls `run(kind)` for each kind in
        `round_kinds(r)`.  At least one full round runs (two when traced,
        so that the parts together follow the ABBA order), whatever the
        window."""
        min_rounds = 2 if self.trace else 1
        self.clear_cache()
        self.setup_end = time.time()
        steal0 = cpu_steal_s()
        t0 = time.perf_counter()
        self.deadline = t0 + self.seconds
        r = 0
        while r < min_rounds or not self.expired():
            for kind in round_kinds(self.rounds + r):
                if r >= min_rounds and self.expired():
                    break
                run(kind)
            r += 1
        self.window_s += time.perf_counter() - t0
        self.steal_s += cpu_steal_s() - steal0
        self.rounds += r

    def clear_cache(self) -> None:
        self.probe.clear_cache()

    # -- one op -----------------------------------------------------------
    def op(self, kind: str, fn, check=None):
        """Run `fn()` as one timed op of `kind`; `check(result)` runs after
        the clock stops and returns an error string or None.  Returns
        fn's result, or None when the op failed."""
        k = self._kind_count.get(kind, 0)
        self._kind_count[kind] = k + 1
        # traced, untraced, untraced, traced, ...: the ABBA order cancels a
        # linear drift (JIT still warming) out of the overhead estimate
        traced = self.trace and (k + k // 2) % 2 == 0
        t, probe = self.tracer, self.probe
        tag = f"perfbench-op-{self.attempted}"
        self.attempted += 1
        if traced:
            t.reset()
            probe.add_tag(tag)
            compiles0, _ = probe.codegen()
            t.on = True
        error = result = None
        t0 = t.now()
        try:
            with t.span("op"):
                result = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            error = traceback.format_exc(limit=3)
        elapsed = t.now() - t0
        t.on = False
        if traced:
            probe.remove_tag(tag)
        if error is None and check is not None:
            try:
                error = check(result)
            except Exception:  # noqa: BLE001 - a crashing check is a failure
                error = traceback.format_exc(limit=3)
        rdds, plans = probe.cache_state()
        self.leaks["cache.leaked_rdds"] += rdds
        self.leaks["cache.leaked_plans"] += plans
        if rdds or plans:
            probe.clear_cache()
        if error is not None:
            self.failed_ops.append((kind, error.strip().splitlines()[-1]))
            return None
        (self.traced_times if traced else self.times) \
            .setdefault(kind, []).append(elapsed)
        if traced:
            rec = self._layer_record(tag, compiles0)
            rec["cache.leaked_rdds"], rec["cache.leaked_plans"] = rdds, plans
            self.layers.setdefault(kind, []).append(rec)
        return result

    def fail_kind(self, kind: str, why: str) -> None:
        """Count every op of `kind` as failed (an output check that runs
        once per kind after the window, e.g. against an oracle)."""
        n = self._kind_count.get(kind, 0)
        self.times.pop(kind, None)
        self.traced_times.pop(kind, None)
        self.layers.pop(kind, None)
        self.failed_ops.extend([(kind, why)] * n)

    def fail_late(self, kind: str, why: str) -> None:
        """Count one op of `kind` as failed by a check that can only run
        after the window (its time sample stays)."""
        self.failed_ops.append((kind, why))

    def _layer_record(self, tag: str, compiles0: int) -> dict[str, float]:
        t, probe = self.tracer, self.probe
        rec: dict[str, float] = dict(t.counters)
        rec.update(probe.executor_totals(tag))
        compiles1, mean_s = probe.codegen()
        rec["codegen.compiles"] = compiles1 - compiles0
        rec["codegen.compile_s"] = (compiles1 - compiles0) * mean_s
        children: dict[int, list[tuple[float, float]]] = {}
        for name, a, b, parent in t.spans:
            if parent is not None:
                children.setdefault(parent, []).append((a, b))
        meta_calls = 0
        for i, (name, a, b, _) in enumerate(t.spans):
            if name == "op":
                rec["op.self_s"] = self_time((a, b), children.get(i, []))
                continue
            if name == "pubsub.trigger":
                rec["pubsub.self_s"] = rec.get("pubsub.self_s", 0.0) + \
                    self_time((a, b), children.get(i, []))
                continue
            if name.startswith("metadata."):
                meta_calls += 1
                m = self.meta_methods.setdefault(name[len("metadata."):],
                                                 [0, 0.0])
                m[0] += 1
                m[1] += b - a
                key = "metadata.s"
            else:
                key = name + "_s"
            rec[key] = rec.get(key, 0.0) + (b - a)
        rec["metadata.calls"] = meta_calls
        return rec

    # -- summaries ----------------------------------------------------------
    def primary_times(self, kinds: set[str] | None = None
                      ) -> dict[str, list[float]]:
        """Untraced op seconds of `kinds` (default: the primary kinds)."""
        kinds = kinds or self.primary
        return {k: v for k, v in self.times.items()
                if v and (kinds is None or k in kinds)}

    def layer_summary(self, names: list[str]) -> dict[str, float]:
        """Per-layer metrics for one round of the workload's op kinds: the
        sum over kinds of each kind's median, except the `*_per_op` and
        `*_per_version` ratios, which divide totals over every traced op."""
        out: dict[str, float] = {}
        recs = [r for rs in self.layers.values() for r in rs]
        n_ops = max(len(recs), 1)
        total = {k: sum(r.get(k, 0.0) for r in recs)
                 for k in ("metadata.calls", "executor.jobs", "store.files",
                           "store.versions")}
        for name in names:
            if name == "metadata.calls_per_op":
                out[name] = total["metadata.calls"] / n_ops
            elif name == "executor.jobs_per_op":
                out[name] = total["executor.jobs"] / n_ops
            elif name == "store.files_per_version":
                out[name] = total["store.files"] / max(total["store.versions"], 1)
            elif name == "trace.overhead_ratio":
                both = [k for k in self.times if k in self.traced_times]
                base = round_total({k: self.times[k] for k in both})
                traced = round_total({k: self.traced_times[k] for k in both})
                out[name] = traced / base - 1.0 if base else 0.0
            else:
                out[name] = sum(median([r.get(name, 0.0) for r in rs])
                                for rs in self.layers.values() if rs)
        return out

    def ops_record(self, kinds: set[str] | None = None) -> dict:
        """Over `kinds` (default: the primary kinds): the median and the
        geometric mean of the per-kind medians, and the tail of all their
        samples with its percentile and sample count.  Plus the one-round
        total over every kind."""
        prim = self.primary_times(kinds)
        value, pct, n = tail([x for v in prim.values() for x in v])
        medians = [median(v) for v in prim.values()]
        return {"p50_s": median(medians), "gmean_s": geomean(medians),
                "tail_s": value, "tail_pct": pct, "n": n,
                "round_s": round_total(self.times)}
