"""Repeatability and tracing-overhead check for one workload.

    python3 perfbench/check.py --workload catchup_backlog --seed 1 --seed2 2

Runs the workload untraced and traced with ``--seed``, traced once more with
the same seed, and traced with ``--seed2`` (which must pass the correctness
gate). Prints:

- every counter that differs between the two same-seed traced runs (the
  timed phase is a fixed number of operations, so they should repeat
  exactly; a differing one is flagged, never averaged);
- the tracing overhead: the traced run's ingest rate against the untraced
  run's, per CPU second and per wall-clock second;
- the per-layer table of the first traced run, in markdown.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

from spread import run_once
from tracing import FULL_SPANS, FULL_STATS, LIGHT_SPANS

HERE = Path(__file__).resolve().parent
RESULTS = HERE.parent / ".perfbench" / "results"


def traced(workload: str, seed: int, seconds: int) -> dict:
    run_once(workload, seed, seconds, 1)
    return json.loads((RESULTS / f"{workload}-s{seed}-trace1.json").read_text())


def layer_table(rec: dict) -> str:
    cols = FULL_STATS
    lines = [f"| span | {' | '.join(cols)} |", "|---" * (len(cols) + 1) + "|"]
    names = [n for *_, n in FULL_SPANS + LIGHT_SPANS]
    names += sorted(k for k in rec["layers"] if "[" in k)  # per table role
    for name in names:
        row = rec["layers"].get(name, {})
        lines.append(f"| `{name}` | " + " | ".join(
            f"{row[c]:.3f}" if c in row else "" for c in cols) + " |")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seed2", type=int, default=2)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    secs = args.seconds or bench["run_seconds"]

    run_once(args.workload, args.seed, secs, 0)
    a = traced(args.workload, args.seed, secs)
    b = traced(args.workload, args.seed, secs)
    c = traced(args.workload, args.seed2, secs)  # raises if the gate fails

    print(f"## {args.workload}, seed {args.seed} (second seed {args.seed2}: "
          f"correctness gate passed, {c['ops']} ops)\n")
    diffs = {k: (a["counters"][k], b["counters"][k]) for k in a["counters"]
             if a["counters"][k] != b["counters"][k]}
    if diffs:
        for k, (x, y) in diffs.items():
            print(f"- COUNTER DIFFERS between same-seed runs: `{k}` {x} vs {y}")
    else:
        print(f"- all {len(a['counters'])} counters repeat exactly across two "
              "same-seed runs")
    base = json.loads((RESULTS / f"{args.workload}-s{args.seed}-trace0.json")
                      .read_text())
    for name, r in (("first", a), ("second", b)):
        for key, group in (("ingest_events_per_cpu_s", "end_to_end"),
                           ("ingest_eps", "wall")):
            t, u = r[group][key], base[group][key]
            print(f"- tracing overhead ({name} traced run): {key} {t:.1f} "
                  f"traced vs {u:.1f} untraced = {t / u:.3f}x")
    print(f"- top-level span coverage of the timed phase: {a['coverage']:.3f}")
    print(f"- unattributed Spark jobs: {a['unattributed_jobs']} of {a['jobs']}")
    print(f"- run: ops={a['ops']} timed={a['timed_s']:.1f}s nproc={a['nproc']} "
          f"ram={a['ram_gb']}GB loadavg {a['loadavg_start']} -> "
          f"{a['loadavg_end']} spark={a['spark']} engine={a['engine_sha256']} "
          f"commit={a['git_commit']}\n")
    print(layer_table(a))
    print("\n| counter (timed phase) | value |\n|---|---|")
    for k, v in a["counters"].items():
        print(f"| `{k}` | {v:.4g} |")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
