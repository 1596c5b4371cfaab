"""Diff two perfbench run records metric by metric.

Usage:
    python tools/profile_diff.py A.json B.json [--moved PCT]

A and B are records that ``perfbench/run.py`` writes to
``perfbench/.work/traces/<workload>-seed<N>-trace<0|1>.json``.  Each
holds an ``e2e`` map (end-to-end metrics) and a ``layers`` map
(per-layer metrics, filled by a ``--trace 1`` run).  The output is one
markdown table row per metric present in both records, end-to-end
first: the metric, A, B and the change from A to B in percent.  With
``--moved PCT`` only metrics whose value moved by at least PCT percent
are listed (a metric that leaves or reaches 0 always counts as moved).
"""

from __future__ import annotations

import argparse
import json
import math
import sys


def load(path: str) -> dict[str, float]:
    """The record's e2e then layers metrics, name → value."""
    with open(path) as f:
        record = json.load(f)
    return {**record.get("e2e", {}), **record.get("layers", {})}


def delta_pct(a: float, b: float) -> float:
    """Change from a to b in percent of |a|; inf when a is 0 and b not."""
    if a == b:
        return 0.0
    if a == 0:
        return math.inf
    return (b - a) / abs(a) * 100.0


def diff(a: dict[str, float], b: dict[str, float], moved: float | None = None):
    """(metric, a, b, Δ%) for every metric in both maps, in a's order,
    limited to |Δ%| >= moved when moved is given."""
    for name, va in a.items():
        if name not in b:
            continue
        d = delta_pct(va, b[name])
        if moved is None or abs(d) >= moved:
            yield name, va, b[name], d


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("a", help="baseline run record (JSON)")
    p.add_argument("b", help="compared run record (JSON)")
    p.add_argument(
        "--moved",
        type=float,
        metavar="PCT",
        help="list only metrics whose value moved by at least PCT percent",
    )
    args = p.parse_args(argv)
    print("| metric | A | B | Δ% |")
    print("|---|---:|---:|---:|")
    for name, va, vb, d in diff(load(args.a), load(args.b), args.moved):
        pct = "new" if math.isinf(d) else f"{d:+.1f}"
        print(f"| `{name}` | {_fmt(va)} | {_fmt(vb)} | {pct} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
