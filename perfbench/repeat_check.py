#!/usr/bin/env python3
"""Do the count metrics repeat, and what does tracing cost?

    python3 perfbench/repeat_check.py --seed 1 --seconds 10 [--workload NAME ...]

For each workload: two traced runs and one untraced run on the same seed.
Prints every count-like per-layer metric (calls, stages, files, bytes,
strategy counts) that differs between the two traced runs -- those are
unfit for count-based claims -- and the tracing overhead: each
end-to-end metric and ``cycle_s`` of the first traced run (``trace.*``)
minus the untraced run's. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import PER_LAYER, WORKLOADS  # noqa: E402

COUNT_UNITS = {"count", "MB", "KB"}


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """One benchmark run: (metric values, the run record from stderr)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    lines = out.stderr.replace("\r", "\n").splitlines()
    record = json.loads([line for line in lines if line.startswith('{"')][-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workload", action="append", choices=[n for n, _ in WORKLOADS])
    args = ap.parse_args()
    counts = [n for n, u in PER_LAYER if u in COUNT_UNITS and not n.startswith("trace.")]
    unfit = 0
    for wl in args.workload or [n for n, _ in WORKLOADS]:
        a, _ = run(wl, args.seed, args.seconds, 1)
        b, _ = run(wl, args.seed, args.seconds, 1)
        plain, record = run(wl, args.seed, args.seconds, 0)
        diff = [(n, a[n], b[n]) for n in counts if a[n] != b[n]]
        unfit += len(diff)
        print(f"{wl}: {len(counts) - len(diff)}/{len(counts)} count metrics repeat")
        for n, x, y in diff:
            print(f"  does not repeat: {n} {x} vs {y}")
        for n, base in [("cycle_s", record["cycle_s"])] + list(plain.items()):
            over = a[f"trace.{n}"] - base
            print(f"  tracing overhead on {n}: {over:+.3f} ({over / base:+.1%} of {base:.3f})")
    return 1 if unfit else 0


if __name__ == "__main__":
    sys.exit(main())
