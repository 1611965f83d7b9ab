"""Assembly of the printed records.  Metric names and units come from
BENCHMARK.json at the checkout root, so the file and the output cannot
drift apart."""

from __future__ import annotations

import json
import os

from harness import Harness
from stats import median

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def end_to_end(h: Harness, setups: list[float], live_mb: float) -> dict:
    """The end-to-end values, from the ops that ran untraced."""
    if not h.primary_times():
        return {}
    ops = h.ops_record()
    return {"setup_s": median(setups), "op_gmean_s": ops["gmean_s"],
            "round_s": ops["round_s"], "live_mb": live_mb}


def result(h: Harness, trace: bool, setups: list[float],
           live_mb: float) -> dict:
    spec = _spec()
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    names = [m["name"] for m in metrics]
    values = (h.layer_summary(names) if trace
              else end_to_end(h, setups, live_mb))
    failed = len(h.failed_ops)
    return {"correct": failed == 0 and bool(values),
            "attempted": h.attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]],
                                    "unit": m["unit"]}
                        for m in metrics if m["name"] in values}}


def details(h: Harness, workload: dict, setups: list[float],
            live_mb: float, peak_rss_mb: float) -> dict:
    """The run record printed before the result: the workload's own named
    metrics, failures, cache leaks, set-up times, memory and, when traced,
    metadata by method."""
    ops = h.ops_record() if h.primary_times() else {}
    rec = {"setup_s": median(setups), "setups_s": setups,
           "live_mb": live_mb, "peak_rss_mb": peak_rss_mb,
           "fail_ratio": len(h.failed_ops) / max(h.attempted, 1),
           "failures": h.failed_ops[:5], "ops": ops,
           "leaks_total": h.leaks, "times": h.times,
           "steal_s": h.steal_s, **workload}
    if h.trace:
        n = max(sum(len(v) for v in h.layers.values()), 1)
        rec["metadata_by_method_per_op"] = {
            m: {"calls": c / n, "s": s / n}
            for m, (c, s) in sorted(h.meta_methods.items())}
    return rec
