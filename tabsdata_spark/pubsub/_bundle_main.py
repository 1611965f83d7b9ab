"""Worker entrypoint executed INSIDE the per-run virtualenv subprocess.

Reference counterpart: the tabsserver invoker
(client/td-sdk/tabsdata/_tabsserver/invoker.py — request folder in,
response folder out) and the supervisor's one-process-per-run model
(server/libraries/td-supervisor/src/component/runner.rs).  The protocol
here is the same shape, JSON instead of YAML:

    python -m tabsdata_spark.pubsub._bundle_main <request.json>

request.json:
    {"bundle": <path to a python file defining the decorated function>,
     "fn": <function name>,
     "inputs": [ {"paths": [parquet version dirs, oldest first]} | null ],
     "output_dir": <dir>, "master": "local[4]", "shuffle_partitions": 8}

The worker builds its OWN SparkSession (full JVM isolation from the
control plane), loads the bundle with importlib, reads each input's
version paths (multi-version refs union oldest-first, exactly like
TableStore.read), invokes the function, and writes each output frame to
<output_dir>/out_<i> as parquet.  response.json records output paths or
the error; the exit code mirrors it.  User code never touches the
metadata store — publish/commit stays in the control plane.
"""

from __future__ import annotations

import importlib.util
import json
import sys
import traceback


def _load_bundle_function(bundle_path: str, fn_name: str):
    from tabsdata_spark.pubsub.decorators import TabsdataFunction

    # explicit loader: bundles are stored as .bundle files, and
    # spec_from_file_location only infers a loader for .py extensions
    from importlib.machinery import SourceFileLoader

    spec = importlib.util.spec_from_file_location(
        "td_bundle", bundle_path,
        loader=SourceFileLoader("td_bundle", bundle_path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    for val in vars(mod).values():
        if isinstance(val, TabsdataFunction) and val.name == fn_name:
            return val
    raise LookupError(
        f"bundle {bundle_path} defines no TabsdataFunction named {fn_name!r}")


def main(argv: list[str] | None = None) -> int:
    req_path = (argv or sys.argv[1:])[0]
    with open(req_path) as f:
        req = json.load(f)
    out_dir = req["output_dir"]
    resp = {"outputs": [], "error": None}
    try:
        from pyspark.sql import SparkSession

        from tabsdata_spark.session import owned
        from tabsdata_spark.tableframe.frame import TableFrame

        # load the bundle BEFORE paying JVM startup: a broken bundle or a
        # missing function name fails in milliseconds
        fn = _load_bundle_function(req["bundle"], req["fn"])
        spark = (
            SparkSession.builder.master(req.get("master", "local[4]"))
            .appName(f"td-worker-{req['fn']}")
            .config("spark.sql.shuffle.partitions",
                    str(req.get("shuffle_partitions", 8)))
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        frames = []
        for spec_in in req["inputs"]:
            if spec_in is None:
                frames.append(None)
                continue
            df = None
            for p in spec_in["paths"]:
                d = spark.read.parquet(p)
                df = d if df is None else df.unionByName(
                    d, allowMissingColumns=True)
            frames.append(TableFrame._from_df(df))
        import os

        # one scope for the run: intermediates the function persisted or
        # checkpointed are released once its outputs are written
        with owned():
            result = fn(*frames)
            outputs = (list(result) if isinstance(result, (list, tuple))
                       else [] if result is None else [result])
            for i, out in enumerate(outputs):
                if out is None:
                    resp["outputs"].append(None)
                    continue
                df = out.df if isinstance(out, TableFrame) else out
                path = os.path.join(out_dir, f"out_{i}")
                df.write.mode("errorifexists").parquet(path)
                resp["outputs"].append(path)
    except Exception as e:  # noqa: BLE001 - report to the control plane
        resp["error"] = f"{type(e).__name__}: {e}\n{traceback.format_exc(limit=10)}"
    with open(f"{out_dir}/response.json", "w") as f:
        json.dump(resp, f)
    return 1 if resp["error"] else 0


if __name__ == "__main__":
    sys.exit(main())
