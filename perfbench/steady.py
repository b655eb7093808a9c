"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the quartile spread
``(q3 - q1) / median`` next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workloads dashboard live --seeds 1-10

Runs are sequential, one process each, from the repository root.
Results are also written to ``.perfbench_out/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(s: str) -> list[int]:
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, list, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    detail = next((json.loads(x.split(": ", 1)[1]) for x in lines
                   if x.startswith("perfbench detail: ")), {})
    ops = [(x.split()[2], float(x.split()[3].rstrip("s")))
           for x in proc.stderr.splitlines() if x.startswith("perfbench op ")]
    return json.loads(lines[-1]), detail, ops, wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=["dashboard", "live"])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"steady-{int(time.time())}.json")
    report = {}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            res, detail, ops, wall = run_once(w, seed, bench["run_seconds"])
            runs.append({"seed": seed, "wall_s": wall, "detail": detail, "ops": ops, **res})
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
        summary = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            spread = quartile_spread(vals) if len(vals) >= 2 else 0.0
            summary[name] = {"median": median(vals), "spread": spread, "bound": bound,
                             "values": vals}
            print(f"  {name:24s} median {median(vals):12.4f}  spread {spread:6.3f}  "
                  f"bound {bound}  {'ok' if spread < bound / 3 else 'WIDE'}")
        spins = [m["spin_ms"] for r in runs for m in r["detail"]["host"]]
        print(f"  wall median {median(r['wall_s'] for r in runs):.1f}s, "
              f"host spin {min(spins):.0f}..{max(spins):.0f} ms", flush=True)
        report[w] = {"runs": runs, "summary": summary}
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
