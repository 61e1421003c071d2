#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark from source with sbt (offline) when
either changed, launches one JVM at local[4] for the run, and prints as
the last line of stdout one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The full result (every op, pass and
span, the per-op map, contention figures) is written to
`perfbench/.work/results/<workload>-seed<seed>-trace<t>.json`.

Other modes:
    --selftest                 run the Python self-tests (test_stats.py)
    --record-fingerprints      rewrite perfbench/fingerprints.json from a
                               catalog run on the current tree
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

WORKLOADS = ("catalog", "curate_release", "io_roundtrip")
# A run must end within 180 s (the JVM gets what is left of that budget
# after the build check); a first run that builds, within 900 s.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 700
SBT_OPTS = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
# The library's JVM options come with the build (target/javaopts.txt); the
# benchmark's heap, given last, overrides theirs.
JVM_HEAP = "-Xmx3g"
# Contended: other processes used more than this share of the box's CPU
# during the timed window (graft.Bench's `suspect` threshold).
CONTENDED_SHARE = 0.25


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads: the library's and the benchmark's."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build. Returns the runtime classpath."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main")
               if not p.exists()]
    if missing:
        fail("library sources not found (%s); run from a checkout of the "
             "repository" % ", ".join(str(p.relative_to(ROOT)) for p in
                                      missing))
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    stamp = HERE / "target" / "build.stamp"
    cp_file = HERE / "target" / "classpath.txt"
    opts_file = HERE / "target" / "javaopts.txt"
    if (stamp.exists() and cp_file.exists() and opts_file.exists()
            and stamp.read_text() == h.hexdigest()):
        return cp_file.read_text().strip(), opts_file.read_text().split()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = WORK / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            timeout=BUILD_BUDGET_S)
    if r.returncode != 0 or not cp_file.exists() or not opts_file.exists():
        fail("build failed, see %s" % log)
    stamp.write_text(h.hexdigest())
    return cp_file.read_text().strip(), opts_file.read_text().split()


def cache_dir():
    """Inputs that do not depend on the seed are kept here between runs,
    keyed by the generator's source."""
    gen = HERE / "src" / "main" / "scala" / "perfbench" / "Gen.scala"
    return WORK / "cache" / hashlib.sha256(gen.read_bytes()).hexdigest()[:16]


def run_jvm(cp, jvm_opts, args, out, record=False):
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    if out.exists():
        out.unlink()
    cmd = (["java"] + jvm_opts + [JVM_HEAP, "-Djava.io.tmpdir=%s" % tmp,
                                  "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", str(out), "--work", str(work),
              "--cache", str(cache_dir()),
              "--fingerprints", str(HERE / "fingerprints.json"),
              "--record", "1" if record else "0"])
    env = dict(os.environ, LANG="C.utf8")
    log = WORK / "jvm.log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=f,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_BUDGET_S - (time.time() - START))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded its time budget, see %s" % log)
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-3000:])
        fail("JVM exited with %d, see %s" % (rc, log))
    shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        return json.load(f)


def summarise(run, trace):
    e2e, samples = stats.end_to_end(run)
    run["end_to_end"] = e2e
    run["samples"] = samples
    run["workload_metrics"] = stats.workload_metrics(run)
    run["per_op"] = stats.per_op(run)
    run["contended"] = run["external_cpu_share"] > CONTENDED_SHARE
    if trace:
        layers, detail, layer_by_op = stats.per_layer(run)
        run["per_layer"] = layers
        run["per_layer_detail"] = detail
        run["per_op_layers"] = layer_by_op
        names = stats.PER_LAYER
        values = layers
    else:
        names = stats.END_TO_END
        values = e2e
    ops = [o for o in run["ops"] if o["timed"]]
    failed = sum(1 for o in ops if not o["ok"])
    line = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }
    return line


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(str(HERE), "test_*.py")
        ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
        sys.exit(0 if ok else 1)
    if args.record_fingerprints:
        args.workload, args.trace, args.seconds = "catalog", 0, 0
    if not args.workload:
        ap.error("--workload is required")
    cp, jvm_opts = build()
    global START
    START = time.time()
    out = WORK / "results" / ("%s-seed%d-trace%d.json"
                              % (args.workload, args.seed, args.trace))
    run = run_jvm(cp, jvm_opts, args, out, record=args.record_fingerprints)
    line = summarise(run, args.trace == 1)
    with open(out, "w") as f:
        json.dump(run, f, indent=1)
    if run["contended"]:
        print("perfbench: contended run: other processes used %.0f %% of "
              "the CPU during the timed window"
              % (100 * run["external_cpu_share"]), file=sys.stderr)
    print("result file: %s" % out.relative_to(ROOT))
    print(json.dumps(line))


START = time.time()

if __name__ == "__main__":
    main()
