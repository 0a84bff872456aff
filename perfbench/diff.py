"""Layer-by-layer diff of two benchmark detail files.

    python3 perfbench/diff.py A.json B.json

Prints, for every end-to-end metric, per-layer metric and timing median
present in both files, the value in A, the value in B and B relative to A.
Diffing an untraced and a traced result of the same workload and seed
shows the tracing overhead.
"""

from __future__ import annotations

import json
import sys


def rows(a: dict, b: dict):
    for section in ("end_to_end", "per_layer"):
        sa, sb = a.get(section) or {}, b.get(section) or {}
        for k in sorted(sa.keys() & sb.keys()):
            yield section, k, sa[k], sb[k]
    ta, tb = a.get("timings", {}), b.get("timings", {})
    for k in sorted(ta.keys() & tb.keys()):
        yield "timings", k, ta[k]["median"], tb[k]["median"]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        a, b = json.load(fa), json.load(fb)
    print(f"{'section':<11} {'metric':<44} {'A':>14} {'B':>14} {'B/A':>8}")
    for section, k, va, vb in rows(a, b):
        ratio = f"{vb / va:8.3f}" if va else " " * 8
        print(f"{section:<11} {k:<44} {va:14.3f} {vb:14.3f} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
