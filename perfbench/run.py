#!/usr/bin/env python3
"""Benchmark of csvplusspark: three seeded, single-client, closed-loop
workloads driven through the program's public API.

    python3 perfbench/run.py --workload etl|lookup|store|all --seed N \
        --seconds S --trace 0|1

  etl     the csvplus ETL pipeline over CSV files (scan, shuffle, sink)
  lookup  Index.find and 64-key probe joins on a cached index (per-call floor)
  store   nearDedupIngest micro-batches, probes and compactions on one
          persisted signature table (commit, manifest, compaction)

The first run in a checkout compiles the program and the harness (see
build.py). Each run starts one JVM on local[<cores>], sets up three times,
warms up, then measures requests for --seconds.

stdout: one `{"report": ...}` line with the workload's named figures, the
inputs and the session settings, then as the LAST line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
Exit code 0 only when the run completed; 1 when the JVM failed; 2 when the
build failed. --workload all runs the three in turn and prints each report.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["etl", "lookup", "store"]
def run_jvm(workload, seed, seconds, trace, deadline):
    """Run one workload in a fresh JVM; return its raw result dict."""
    work = build.OUT / f"run-{os.getpid()}-{workload}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    log = work / "jvm.log"
    cmd = build.java_cmd(work, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--work", str(work), "--out", str(out)])
    try:
        with open(log, "w") as lf:
            proc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=max(30.0, deadline - time.monotonic()))
        if proc.returncode != 0 or not out.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            raise RuntimeError(f"{workload}: JVM exited with {proc.returncode}")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(raws, trace):
    pick = metrics.per_layer if trace else metrics.end_to_end
    attempted = sum(r["attempted"] for r in raws)
    failed = sum(r["failed"] + r["wrong"] for r in raws)
    if len(raws) == 1:
        ms = {k: {"value": v["value"], "unit": v["unit"]} for k, v in pick(raws[0]).items()}
    else:
        ms = {f"{r['workload']}.{k}": {"value": v["value"], "unit": v["unit"]}
              for r in raws for k, v in pick(r).items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": ms}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exception, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    try:
        rebuilt = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    # a run must end within 180 s of its start (900 s when it compiled);
    # leave room for the analysis and the exit
    budget = (880.0 if rebuilt else 170.0) + 170.0 * (len(names) - 1)
    raws = []
    for name in names:
        try:
            raw = run_jvm(name, a.seed, a.seconds, a.trace == 1, start + budget)
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            print(f"[perfbench] {e}", file=sys.stderr)
            return 1
        raws.append(raw)
        try:
            print(json.dumps({"report": metrics.report(raw)}), flush=True)
        except KeyError as e:
            print(f"[perfbench] {name}: no samples of {e}; errors: {raw['errors']}",
                  file=sys.stderr)
            return 1
    print(json.dumps(result_line(raws, a.trace == 1)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
