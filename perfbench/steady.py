#!/usr/bin/env python3
"""Runs every workload over a list of seeds and reports how steady each
end-to-end metric is.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/baselines/set-a.json

For each workload and end-to-end metric it prints the median and the
spread (inter-quartile range over the median, statistics.quantiles with
n=4), and marks a spread above a third of the metric's bound in
BENCHMARK.json. The JSON file keeps every run's metric line, its external
CPU share (contention) and its pass count.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = ([w for w in args.workloads.split(",") if w]
             or [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in names:
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit("run failed: %s seed %d\n%s" % (w, s, p.stderr))
            line = json.loads(p.stdout.strip().splitlines()[-1])
            result = json.loads((HERE / ".work" / "results" / (
                "%s-seed%d-trace0.json" % (w, s))).read_text())
            runs.setdefault(w, []).append({
                "seed": s, "run_s": round(time.time() - t0, 1),
                "line": line,
                "external_cpu_share": result["external_cpu_share"],
                "load1_start": result["load1_start"],
                "passes": len(result["pass_walls_s"]),
                "workload_metrics": result["workload_metrics"]})
            print(w, s, "%.0fs" % (time.time() - t0), line["correct"],
                  {k: round(v["value"], 3)
                   for k, v in line["metrics"].items()},
                  "ext %.2f" % result["external_cpu_share"], flush=True)
            Path(args.out).write_text(json.dumps(runs, indent=1))
    summary = {}
    for w, rs in runs.items():
        for m in rs[0]["line"]["metrics"]:
            xs = [r["line"]["metrics"][m]["value"] for r in rs]
            sp = stats.spread(xs) if len(xs) > 1 else 0.0
            summary.setdefault(w, {})[m] = {
                "median": statistics.median(xs), "spread": sp}
            flag = "" if m == "setup_s" or sp < bounds[m] / 3 else \
                "  above a third of the bound %.2f" % bounds[m]
            print("%-15s %-9s median %9.3f  spread %.3f%s"
                  % (w, m, statistics.median(xs), sp, flag))
    Path(args.out).write_text(json.dumps(
        {"runs": runs, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
