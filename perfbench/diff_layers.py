"""Diff the per-layer summaries of two traced runs.

    python3 perfbench/diff_layers.py A.layers.json B.layers.json

A traced run (``run.py --trace 1``) writes ``.perfbench_out/<workload>-
seed<n>.layers.json``. This prints, per metric, both values and B's change
relative to A, largest relative change first.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = (json.load(open(p))["metrics"] for p in argv)

    def change(k: str) -> float:
        va, vb = a[k]["value"], b[k]["value"]
        return (vb - va) / abs(va) if va else (0.0 if vb == va else float("inf"))

    keys = sorted(set(a) & set(b), key=lambda k: -abs(change(k)))
    for k in keys:
        print(f"{k:36s} {a[k]['value']:>14.6g} {b[k]['value']:>14.6g} {change(k):>+9.1%}  {a[k]['unit']}")
    for k in sorted(set(a) ^ set(b)):
        print(f"{k:36s} only in {'A' if k in a else 'B'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
