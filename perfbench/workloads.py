"""The three workloads.  A run calls its workload once per set-up, each
time in a fresh session.  Each call sets up, issues its ops through
`h.run_rounds` (which opens its part of the measured window) and `h.op`,
and returns its details record; the last call also checks what can only
be checked at the end.

- headline: headline queries, built and forced with the noop sink.
- cascade:  a diamond pub/sub DAG triggered once per seed-chosen slice.
- versions: version-store churn, reads beside writes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import tabsdata_spark as td
from tabsdata_spark.io.plugin import DestinationPlugin, SourcePlugin
from tabsdata_spark.pubsub import PubSubEngine
from tabsdata_spark.store import services
from tabsdata_spark.store.table_store import TableStore

import datagen
from harness import Harness
from probes import TracedStore
from stats import median, round_total

# A fixed slice of bench.py's frozen 25-query headline: two TPC-H shapes
# (a three-way join, a filter-aggregate scan), a window operator and the
# pandas_udf Arrow crossing.
HEADLINE = [
    "q3_shipping_priority", "q6_forecast_revenue", "sessionize", "udf_charge",
]
REL_TOL = 1e-6


@dataclass
class Context:
    spark: object
    h: Harness
    seed: int
    data_dir: str
    work_dir: str
    last: bool = True       # the run's last set-up and window part
    # what the workload keeps from one set-up to the next
    state: dict = field(default_factory=dict)


def cleanup(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names) / 2**20


def _force(t, df) -> int:
    """Force a lazy read inside the op: the benchmark's own executor call."""
    with t.span("executor.force"):
        return df.count()


def _named(prefix: str, h: Harness, kinds: set[str] | None = None) -> dict:
    """The latency record of `kinds` (default: the primary op kinds) under
    the workload's own names."""
    if not h.primary_times(kinds):
        return {}
    ops = h.ops_record(kinds)
    return {f"{prefix}_p50_s": ops["p50_s"], f"{prefix}_tail_s": ops["tail_s"],
            f"{prefix}_tail_pct": ops["tail_pct"], f"{prefix}_n": ops["n"]}


# ---------------------------------------------------------------- headline
def fingerprint(table: pa.Table) -> dict:
    """Row count plus, per column, an order-independent sum: numeric values,
    or string lengths, and the null count."""
    out: dict = {"rows": table.num_rows}
    for name, col in sorted(zip(table.column_names, table.columns),
                            key=lambda x: x[0]):
        typ = col.type
        if (pa.types.is_integer(typ) or pa.types.is_floating(typ)
                or pa.types.is_decimal(typ)):
            s = pc.sum(col.cast(pa.float64())).as_py()
        elif pa.types.is_string(typ) or pa.types.is_large_string(typ):
            s = pc.sum(pc.utf8_length(col)).as_py()
        else:
            s = None
        out[name] = [s or 0.0, col.null_count]
    return out


def fingerprint_diff(got: dict, want: dict) -> str | None:
    if got.keys() != want.keys():
        return f"columns {sorted(got)} != {sorted(want)}"
    for k, w in want.items():
        g = got[k]
        if k == "rows" or g[1] != w[1]:
            if g != w:
                return f"{k}: {g} != {w}"
        elif not math.isclose(g[0], w[0], rel_tol=REL_TOL, abs_tol=REL_TOL):
            return f"{k}: sum {g[0]} != {w[0]}"
    return None


def oracle_fingerprints(data_dir: str, sqls: dict[str, str]) -> dict:
    """Fingerprints of the DuckDB oracle on the same files.  The inputs are
    fixed, so each is kept under the data directory, keyed by its SQL."""
    out, todo = {}, {}
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(data_dir, "oracle", f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
        else:
            todo[name] = (sql, path)
    if todo:
        import duckdb

        con = duckdb.connect()
        for table in datagen.TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{data_dir}/{table}.parquet'")
        for name, (sql, path) in todo.items():
            out[name] = fingerprint(con.execute(sql).arrow())
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(out[name], f)
            os.replace(path + ".tmp", path)
        con.close()
    return out


def headline(ctx: Context) -> dict:
    from tabsdata_spark import queries as registry

    spark, h, t = ctx.spark, ctx.h, ctx.h.tracer
    qs, oracles = registry.queries(), registry.oracle_sql()
    order = list(HEADLINE)
    random.Random(ctx.seed).shuffle(order)

    # Warm-up: every query once, collected, one after another as the timed
    # ops run.  The fingerprints are the Spark side of the output check;
    # the timed ops below run the same plans.
    t0 = time.perf_counter()
    got = {name: fingerprint(qs[name](spark, ctx.data_dir).toArrow())
           for name in order}
    cold = time.perf_counter() - t0
    h.clear_cache()
    ctx.state.setdefault("got", []).append(got)

    def run_query(name: str) -> None:
        with t.span("tableframe.build"):
            df = qs[name](spark, ctx.data_dir)
        if t.on:
            with t.paused():
                h.probe.record_phases(df._jdf.queryExecution(), t)
        with t.span("executor.force"):
            df.write.format("noop").mode("overwrite").save()

    h.run_rounds(
        lambda r: order[r % len(order):] + order[:r % len(order)],
        lambda name: h.op(name, lambda: run_query(name)))

    mismatches = {}
    if ctx.last:
        wants = oracle_fingerprints(ctx.data_dir,
                                    {n: oracles[n] for n in order})
        for name, want in wants.items():
            for fp in ctx.state["got"]:
                why = fingerprint_diff(fp[name], want)
                if why is not None:
                    mismatches[name] = why
                    h.fail_kind(name, f"oracle mismatch: {why}")
                    break
    return {"rounds": h.rounds, "queries": order, "warmup_s": cold,
            **_named("query", h),
            "headline_total_s": round_total(h.times),
            "per_query_median_s": {k: median(v) for k, v in h.times.items()},
            "oracle_mismatches": mismatches}


# ----------------------------------------------------------------- cascade
def _slices(seed: int, n: int) -> list[tuple[str, str]]:
    """Seed-chosen [from, to) order-date windows of 150-170 days (about 10k
    orders each at sf0.1)."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        width = rng.randint(150, 170)
        start = rng.randint(0, datagen.ORDER_DAYS - width)
        lo = datagen.ORDER_DAY0 + dt.timedelta(days=start)
        out.append((lo.date().isoformat(),
                    (lo + dt.timedelta(days=width)).date().isoformat()))
    return out


def cascade(ctx: Context) -> dict:
    from pyspark.sql import functions as F

    spark, h, t = ctx.spark, ctx.h, ctx.h.tracer
    orders_path = os.path.join(ctx.data_dir, "orders.parquet")
    orders = pq.read_table(orders_path, columns=[
        "o_orderdate", "o_orderpriority", "o_totalprice"]).to_pandas()
    wh = os.path.join(ctx.work_dir, "warehouse")
    export_dir = os.path.join(ctx.work_dir, "export")
    store = (TracedStore(wh, t, h.probe) if h.trace else TableStore(wh))
    engine = PubSubEngine(spark, store)
    slices = _slices(ctx.seed, 1000)

    class OrdersFeed(SourcePlugin):
        """Publishes the order-date slice named by its offsets; the
        publisher returns the next slice's offsets (FUNCTION mode)."""

        offset_return = "function"

        def __init__(self):
            super().__init__()
            lo, hi = slices[0]
            self.initial_values = {"i": "0", "from": lo, "to": hi}

        def chunk(self, spark_, working_dir):
            v = self.initial_values
            return (spark_.read.parquet(orders_path)
                    .where(F.col("o_orderdate") >= v["from"])
                    .where(F.col("o_orderdate") < v["to"]))

        def resolve(self, spark_, working_dir):
            with t.span("io.source"):
                return super().resolve(spark_, working_dir)

    class ParquetExport(DestinationPlugin):
        def stream(self, spark_, df, working_dir):
            with t.span("io.dest"):
                df.write.mode("overwrite").parquet(export_dir)

    @td.publisher(OrdersFeed(), tables="orders_raw")
    def ingest(tf):
        i = int(ingest.source.initial_values["i"]) + 1
        return tf, {"i": str(i), "from": slices[i][0], "to": slices[i][1]}

    @td.transformer(input_tables=["orders_raw"], output_tables=["branch_a"])
    def rev_by_priority(tf):
        with t.span("tableframe.build"):
            return (tf.group_by("o_orderpriority")
                    .agg(revenue=td.col("o_totalprice").sum()))

    @td.transformer(input_tables=["orders_raw"], output_tables=["branch_b"])
    def cnt_by_priority(tf):
        with t.span("tableframe.build"):
            return (tf.group_by("o_orderpriority")
                    .agg(n_orders=td.col("o_orderkey").count()))

    @td.transformer(input_tables=["branch_a", "branch_b", "branch_a@HEAD~1"],
                    output_tables=["joined"],
                    trigger_by=["branch_a", "branch_b"])
    def join_branches(a, b, prev_a):
        with t.span("tableframe.build"):
            out = a.join(b, on="o_orderpriority", how="inner")
            if prev_a is None:
                return out.with_columns(delta=td.col("revenue"),
                                        had_prev=td.lit(False))
            prev = prev_a.rename({"revenue": "prev_revenue"})
            return (out.join(prev, on="o_orderpriority", how="left")
                    .with_columns(
                        delta=td.col("revenue")
                        - td.col("prev_revenue").fill_null(0.0),
                        had_prev=td.col("prev_revenue").is_not_null())
                    .drop("prev_revenue"))

    @td.subscriber(tables=["joined"], destination=ParquetExport())
    def export(tf):
        return tf

    for fn in (ingest, rev_by_priority, cnt_by_priority, join_branches,
               export):
        engine.register("diamond", fn)

    def expected(i: int) -> pd.DataFrame:
        lo, hi = slices[i]
        s = orders[(orders.o_orderdate >= lo) & (orders.o_orderdate < hi)]
        return s.groupby("o_orderpriority").agg(
            rev=("o_totalprice", "sum"), n=("o_totalprice", "size"))

    # cascades committed so far, by earlier set-ups on this warehouse too
    n_runs = {"n": len(store.meta.version_rows("diamond", "joined"))}

    def trigger():
        with t.span("pubsub.trigger"):
            reports = engine.trigger("diamond", "ingest")
        t.add("pubsub.runs", len(reports))
        return reports

    def check_runs(reports) -> str | None:
        names = [r.function.rsplit("/", 1)[-1] for r in reports]
        bad = [(r.function, r.error) for r in reports if r.status != "committed"]
        if bad or len(reports) != 5:
            return f"runs not committed: {bad or names}"
        if (names[0] != "ingest" or names[3:] != ["join_branches", "export"]
                or set(names[1:3]) != {"rev_by_priority", "cnt_by_priority"}):
            return f"run order {names}"
        n_runs["n"] += 1
        return None

    def check_history() -> list[str]:
        """Every cascade's `joined` version against a direct aggregation of
        its slice (and the previous slice for `delta`), each table's
        lineage, and the export of the last snapshot."""
        n, errors = n_runs["n"], []
        for table in ("orders_raw", "branch_a", "branch_b", "joined"):
            vers = store.meta.version_rows("diamond", table)
            if len(vers) != n:
                errors.append(f"{table} has {len(vers)} versions, want {n}")
        raw = store.meta.version_rows("diamond", "orders_raw")
        for i in range(n):
            want = expected(i)
            prev = expected(i - 1) if i else None
            if i < len(raw) and raw[i]["row_count"] != int(want.n.sum()):
                errors.append(f"orders_raw v{i} has {raw[i]['row_count']} rows")
            rows = store.read(spark, "diamond", "joined",
                              f"HEAD~{n - 1 - i}").to_spark().collect()
            if len(rows) != len(want):
                errors.append(f"joined v{i} has {len(rows)} rows")
                continue
            for r in rows:
                w = want.loc[r["o_orderpriority"]]
                p = (prev.rev.get(r["o_orderpriority"]) if prev is not None
                     else None)
                if not (r["n_orders"] == w.n
                        and math.isclose(r["revenue"], w.rev, rel_tol=1e-9)
                        and r["had_prev"] == (p is not None)
                        and math.isclose(r["delta"], w.rev - (p or 0.0),
                                         rel_tol=1e-9, abs_tol=1e-6)):
                    errors.append(f"joined v{i} row {r.asDict()} != "
                                  f"{w.to_dict()} prev {p}")
        if spark.read.parquet(export_dir).count() != len(expected(n - 1)):
            errors.append("export does not hold the last joined snapshot")
        return errors

    def inspect():
        """What a user does after a cascade: sample the result through the
        table service with SQL, and read the last three ingested slices."""
        k = min(2, n_runs["n"] - 1)
        sql = "SELECT o_orderpriority, revenue FROM joined WHERE n_orders > 0"
        with t.span("services.sample"):
            rows = services.sample_table(spark, store, "diamond/joined",
                                         length=10, sql=sql)
        n = _force(t, store.read(spark, "diamond", "orders_raw",
                                 f"HEAD~{k}..HEAD").to_spark())
        return rows, n, k

    def check_inspect(got) -> str | None:
        rows, n, k = got
        last = n_runs["n"] - 1
        if len(rows) != len(expected(last)):
            return f"sample has {len(rows)} rows"
        want = sum(int(expected(i).n.sum()) for i in range(last - k, last + 1))
        return None if n == want else f"range read {n} rows, want {want}"

    # Warm-up: cascades until one has read a HEAD~1 input, then an inspect.
    # The first set-up runs the cold cascade and one more; later set-ups
    # continue the same warehouse and run one.
    while True:
        why = check_runs(trigger())
        if why is not None or n_runs["n"] >= 2:
            break
    why = why or check_inspect(inspect())
    if why is not None:
        raise RuntimeError(f"cascade warm-up failed: {why}")
    h.clear_cache()
    h.primary = {"cascade"}
    ops = {"cascade": (trigger, check_runs), "inspect": (inspect, check_inspect)}
    h.run_rounds(lambda r: list(ops), lambda kind: h.op(kind, *ops[kind]))
    if ctx.last:
        for why in check_history():
            h.fail_late("cascade", why)
    return {"cascades": n_runs["n"], **_named("cascade", h),
            "warehouse_mb": _dir_mb(wh)}


# ---------------------------------------------------------------- versions
VERSION_KINDS = ("write", "merge", "read_head", "read_back", "read_range",
                 "read_as_of", "sample")
WRITE_KINDS = ("write", "merge")


def versions(ctx: Context) -> dict:
    spark, h, t = ctx.spark, ctx.h, ctx.h.tracer
    rng = np.random.default_rng(ctx.seed)
    pick = random.Random(ctx.seed)
    wh = os.path.join(ctx.work_dir, "warehouse")
    cleanup(wh)     # every set-up starts its history afresh
    store = (TracedStore(wh, t, h.probe) if h.trace else TableStore(wh))
    coll = "vs"
    # the model of committed history: per table, the key set of each version
    model: dict[str, list[np.ndarray]] = {"a": [], "b": []}
    snapshots: list[tuple[str, str, int]] = []   # (as_of, table, version idx)
    next_id = {"a": 0, "b": 0}

    def batch(table: str, keep: np.ndarray | None = None):
        """A fresh batch of 2000-4000 rows; with `keep`, a merge batch that
        updates a sample of those keys and inserts new ones."""
        n = int(rng.integers(2000, 4001))
        if keep is None:
            ids = np.arange(next_id[table], next_id[table] + n)
        else:
            n_upd = min(len(keep), n // 2)
            ids = np.concatenate([
                rng.choice(keep, n_upd, replace=False),
                np.arange(next_id[table], next_id[table] + n - n_upd)])
        next_id[table] = max(next_id[table], int(ids.max()) + 1)
        pdf = pd.DataFrame({
            "id": ids.astype(np.int64),
            "grp": np.array(["g0", "g1", "g2", "g3"])[rng.integers(0, 4, len(ids))],
            "amount": np.round(rng.uniform(0, 1000, len(ids)), 2),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 86400 * 30, len(ids)), unit="s"),
        })
        return spark.createDataFrame(pdf), ids

    def committed(table: str, ids: np.ndarray) -> None:
        model[table].append(np.unique(ids))
        snapshots.append((store.meta.snapshot_ts(), table,
                          len(model[table]) - 1))

    def count_check(want: int):
        return lambda got: None if got == want else f"{got} rows, want {want}"

    def write_txn(fa, fb):
        with store.transaction() as txn:
            store.write(fa, coll, "a", txn_id=txn)
            store.write(fb, coll, "b", txn_id=txn)

    def do_write():
        (fa, ids_a), (fb, ids_b) = batch("a"), batch("b")

        def check(_):
            for table, ids in (("a", ids_a), ("b", ids_b)):
                committed(table, ids)
                rows = store.meta.version_rows(coll, table)
                if rows[-1]["row_count"] != len(ids):
                    return f"{table} HEAD row_count {rows[-1]['row_count']}"
                if len(rows) != len(model[table]):
                    return f"{table} has {len(rows)} versions"
            return None
        return lambda: write_txn(fa, fb), check

    def do_merge():
        table = pick.choice("ab")
        head = model[table][-1]
        df, ids = batch(table, keep=head)
        want = np.union1d(head, ids)

        def check(_):
            committed(table, want)
            n = store.meta.version_rows(coll, table)[-1]["row_count"]
            return None if n == len(want) else f"merge wrote {n}, want {len(want)}"
        return (lambda: store.merge(df, coll, table, key_cols=["id"]),
                check)

    def do_read(kind: str):
        table = pick.choice("ab")
        hist = model[table]
        if kind == "read_head":
            want, ref, as_of = len(hist[-1]), "HEAD", None
        elif kind == "read_back":
            k = pick.randint(1, min(10, len(hist) - 1))
            want, ref, as_of = len(hist[-1 - k]), f"HEAD~{k}", None
        elif kind == "read_range":
            k = pick.randint(1, min(4, len(hist) - 1))
            want = sum(len(x) for x in hist[-1 - k:])
            ref, as_of = f"HEAD~{k}..HEAD", None
        else:  # read_as_of
            as_of, _, idx = pick.choice([s for s in snapshots
                                         if s[1] == table])
            want, ref = len(hist[idx]), "HEAD"
        return (lambda: _force(t, store.read(spark, coll, table, ref, as_of=as_of)
                              .to_spark()),
                count_check(want))

    def do_sample():
        table = pick.choice("ab")
        r = pick.randint(0, 6)
        want = min(100, int((model[table][-1] % 7 == r).sum()))
        sql = f"SELECT id, amount FROM {table} WHERE id % 7 = {r}"

        def op():
            with t.span("services.sample"):
                return services.sample_table(spark, store, f"{coll}/{table}",
                                             length=100, sql=sql)
        return op, lambda rows: (None if len(rows) == want
                                 else f"sample {len(rows)} rows, want {want}")

    def make(kind: str):
        if kind == "write":
            return do_write()
        if kind == "merge":
            return do_merge()
        if kind == "sample":
            return do_sample()
        return do_read(kind)

    # set-up: a short history, then one untimed op of every kind
    t0 = time.perf_counter()
    for _ in range(2):
        fn, check = do_write()
        fn()
        why = check(None)
        if why is not None:
            raise RuntimeError(f"versions set-up failed: {why}")
    warm = {"history": time.perf_counter() - t0}
    for kind in VERSION_KINDS:
        t0 = time.perf_counter()
        fn, check = make(kind)
        why = check(fn())
        if why is not None:
            raise RuntimeError(f"versions warm-up {kind} failed: {why}")
        h.clear_cache()
        warm[kind] = time.perf_counter() - t0

    h.run_rounds(lambda r: pick.sample(VERSION_KINDS, len(VERSION_KINDS)),
                          lambda kind: h.op(kind, *make(kind)))
    return {"rounds": h.rounds, "warmup_s": warm,
            "versions": {k: len(v) for k, v in model.items()},
            **_named("write", h, set(WRITE_KINDS)),
            **_named("read", h, set(VERSION_KINDS) - set(WRITE_KINDS)),
            "ops_per_s": h.attempted / h.window_s,
            "warehouse_mb": _dir_mb(wh)}
