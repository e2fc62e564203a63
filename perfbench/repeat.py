"""Run a workload once per seed and summarise each metric's spread.

    python3 perfbench/repeat.py --workload sql_scan --seeds 1-10 [--trace 0]

Prints, per metric, the median of the runs and the distance between
their first and third quartiles as a share of the median: the figure
the bounds in BENCHMARK.json are judged against. Run from the
repository root; runs go one after another.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

from perfbench import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((BENCH.parent / "BENCHMARK.json").read_text())["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        run_s = time.monotonic() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for line in proc.stderr.splitlines():
            if line.startswith("perfbench:"):
                print("   ", line)
        print(f"seed {seed} ({run_s:.0f} s): correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    for k, v in values.items():
        med = stats.median(v)
        spread = stats.quartile_spread(v) if len(v) > 1 and med else float("nan")
        print(f"{k:28s} median {med:12.4f} {units[k]:6s} spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
