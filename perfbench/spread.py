#!/usr/bin/env python3
"""Run-to-run spread check: runs the benchmark once per seed and prints,
for each end-to-end metric, the median of the per-run values and the
distance between their first and third quartiles as a share of it.

    python3 perfbench/spread.py --workload store --seeds 1-5 --seconds 15

Every run's final line is appended to --log (JSON lines) so two sets of
runs can be compared afterwards.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import median, quartile_spread  # noqa: E402

RUN = str(Path(__file__).resolve().parent / "run.py")


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--log", default=None)
    a = ap.parse_args()
    values = {}
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, RUN, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall,
                                    "report": json.loads(lines[0])["report"],
                                    "result": last}) + "\n")
        print(f"seed {seed}: {wall:.1f} s, correct={last['correct']} "
              f"attempted={last['attempted']} failed={last['failed']}", flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        spread = quartile_spread(xs) if len(xs) >= 2 else float("nan")
        print(f"{k:>16}  median {median(xs):14.4f}  spread {spread:.4f}  "
              f"[{min(xs):.4f} .. {max(xs):.4f}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
