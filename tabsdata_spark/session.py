"""SparkSession bootstrap tuned for the tabsdata-spark engine.

The reference (tabsdata) runs Polars in-process and trusts its optimizer
(reference: client/td-sdk/tabsdata/tableframe/lazyframe/frame.py:545-563
enables predicate/projection/slice pushdown etc.).  On Spark the analogous
move is to enable AQE + all adaptive rewrites and let Catalyst do the rest.

All knobs here are scale-oriented: AQE coalesces post-shuffle partitions at
small SF and splits skewed joins at large SF, so one config serves both the
local[32] test harness and a 1000-executor cluster.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("TDSPARK_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "tabsdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching (broadcast small post-filter sides).
    - Arrow on: every pandas_udf / toPandas crossing is Arrow-batched.
    - ANSI off: tabsdata/Polars semantics are non-ANSI (overflow wraps,
      bad casts -> null); `cast(strict=True)` opts into ANSI per-call.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.cbo.enabled", "true")
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written) -> LongType nanos;
        # readers re-derive timestamps via timestamp_micros(ns div 1000)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("TDSPARK_DRIVER_MEM", "8g"))
        # The ContextCleaner reclaims a dropped frame's broadcasts and
        # shuffle files only after a JVM GC processes its weak references,
        # and its safety-net GC fires every 30min by default — longer than
        # a whole multi-query batch.  In local mode (driver == executor
        # JVM) hundreds of sequential queries accumulate dead state that
        # squeezes the unified memory pool into GC storms (measured: an
        # isolated 1.0s query read 30.9s after 20 heavy queries on the
        # default; 45s periodic GC removed the spike with the identical
        # workload — see OPTIMIZATION_r11.md).  It does NOT release
        # persisted frames (the CacheManager holds them strongly) nor
        # localCheckpoint blocks promptly: `owned()` below releases those.
        .config("spark.cleaner.periodicGC.interval", "45s")
        # The whole-stage-codegen class cache holds only 100 entries by
        # default (static conf).  A multi-query application compiles ~5-10
        # codegen units per query, so after ~20 distinct queries earlier
        # entries are evicted and re-running a query re-pays Janino
        # compilation AND fresh JIT warmup — exactly the one-time costs a
        # warmup pass is supposed to absorb (measured: identical headline
        # pass after a 230-query warmup read 15.44s at 100 entries vs
        # 13.52s at 5000, same session shape back-to-back; iterative
        # queries that re-derive identical plans benefit most — see
        # OPTIMIZATION_r11.md).  Cost: cached GeneratedClass metadata in
        # metaspace (~30KB/entry, ~150MB at 5000) — bounded and equally
        # valid on a cluster, where executors keep their own cache.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SCOPE: ContextVar[list[Callable[[], None]] | None] = ContextVar(
    "tdspark_owned", default=None)


@contextmanager
def owned() -> Iterator[None]:
    """Own every intermediate materialized by `persist` / `checkpoint`
    for one call, and release all of it on exit — even when the body
    raises.

    Open it around code that builds a frame AND forces it: the returned
    frame is lazy and reads the blocks until its action has run.  Scopes
    nest (the innermost one owns); a contextvar does not flow into pool
    threads, so each pooled program opens its own.  With no scope open
    the primitives leave the blocks to the caller, as a bare
    `persist()` / `localCheckpoint()` would."""
    held: list[Callable[[], None]] = []
    token = _SCOPE.set(held)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        # newest first: a persisted frame is released before the ones it
        # was derived from, so the CacheManager never re-plans a dependent
        for release in reversed(held):
            release()


def _own(df: DataFrame, release: Callable[[], None]) -> DataFrame:
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(release)
    return df


def persist(df: DataFrame) -> DataFrame:
    """Lazy persist of a frame read by several consumers: materialized by
    the first action that reads it, so plan construction stays cheap."""
    df = df.persist()
    return _own(df, df.unpersist)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: runs `df` now and cuts its lineage, for
    iterative loops whose plans would otherwise grow every round."""
    df = df.localCheckpoint(eager=True)
    rdd = df._jdf.logicalPlan().rdd()
    return _own(df, lambda: rdd.unpersist(False))
