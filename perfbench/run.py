"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|live --seed N \
        --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
before the Spark session starts; the run then does a fixed number of
operations, sized so that the measured phase lasts about ``--seconds``
on a 4-core host, and checks every result. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans and
per-operation records to ``.perfbench_out/``.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "live")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fail fast, before any JVM starts, when the engine is not here
    import bench
    import v3io_tsdb_spark  # noqa: F401

    import dashboard
    import live
    from harness import Harness
    from sparkside import peak_rss_mb, start_session, stop_session

    workload = {"dashboard": dashboard, "live": live}[args.workload]
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traced = bool(args.trace)
    spark = h = None
    try:
        if workload is live:
            inputs = live.prepare(work, args.seed, args.seconds, traced)
        else:
            inputs = dashboard.prepare(work, args.seed)
        host_pre = [bench._host_markers(), bench._host_markers()]
        t_setup0 = time.perf_counter()
        spark = start_session(work)
        h = Harness(spark, traced)
        res = workload.run(spark, h, inputs, work, args.seconds, t_setup0)
        host_post = bench._host_markers()
        if traced:
            metrics = h.layer_metrics(
                [p.name for p in dashboard.PANELS], res["table_path"], res["table_samples"],
                host_pre[0], host_post, res["overhead"],
            )
            metrics["process.peak_rss_mb"] = {"value": peak_rss_mb(spark), "unit": "MB"}
            out_dir = os.path.join(cwd, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            h.tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"ops": h.ops, "notes": res["notes"], "host": [host_pre, host_post]},
            )
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()}
        detail = {"workload": args.workload, "seed": args.seed, "notes": res["notes"],
                  "host": host_pre + [host_post]}
        print("perfbench detail: " + json.dumps(detail), flush=True)
        result = {
            "correct": h.failed == 0,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": metrics,
        }
    finally:
        if h is not None:
            h.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
