"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload consumers_mixed --seeds 1-10

The spread of a metric is the distance between the first and third quartile
of its per-run values (``statistics.quantiles(values, n=4)``) as a share of
their median; ``BENCHMARK.json`` bounds it per end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for s in seeds(args.seeds):
        r = run_once(args.workload, s, seconds, 0)
        runs.append(r)
        print(f"seed {s}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    print(f"\n{'metric':16s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        sp = spread(vals)
        flag = "" if sp <= bound / 3 else ("  > bound/3" if sp <= bound else "  > BOUND")
        print(f"{name:16s} {statistics.median(vals):12.4f} {sp:8.3f} {bound:6.2f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
