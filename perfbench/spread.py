"""Run a workload once per seed and print each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), next to its bound
from BENCHMARK.json.

    python3 perfbench/spread.py --workload wal_tail --seeds 1-5 --seconds 10

Runs are sequential (one JVM at a time). Exits non-zero if a run fails
or reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        notes = [ln[2:] for ln in lines
                 if ln.startswith(("# run_wall_s", "# host_steal_frac"))]
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + f" ({', '.join(notes)})", flush=True)
        if not result["correct"]:
            return 1
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        spread = quartile_spread(xs) if len(xs) >= 2 else float("nan")
        print(f"{k}: median={statistics.median(xs):.5g} spread={spread:.3f} "
              f"bound={bounds.get(k)} ok={spread < bounds.get(k, 0) / 3}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
