"""Check that the count metrics of traced runs repeat exactly for a fixed seed.

    python3 perfbench/check_counts.py [--seed 7] [--seconds 3] [workload ...]

Runs each workload's traced run twice with the same seed and compares the
per-layer metrics whose unit is ``count``. Exits 1 on any difference.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
WORKLOADS = ("bridge", "spark_native")


def counts(workload: str, seed: int, seconds: float) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True, cwd=RUN.parent.parent,
    ).stdout
    metrics = json.loads(out.strip().split("\n")[-1])["metrics"]
    return {k: m["value"] for k, m in metrics.items() if m["unit"] == "count"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        first, second = (counts(w, args.seed, args.seconds) for _ in range(2))
        diff = {k: (first[k], second.get(k)) for k in first if first[k] != second.get(k)}
        ok &= not diff and first.keys() == second.keys()
        print(f"{w}: {'same' if not diff else 'DIFFERENT'} {len(first)} counts {diff or first}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
