"""Compare two bench JSON artifacts (BENCH_LOCAL.json, or an older
driver capture with a `parsed` wrapper, e.g. one restored from git
history with `git show <rev>:BENCH_r16.json`): per-query deltas over
the common set, plus totals — the round-over-round view the small-SF
variance makes easy to misread from totals alone.

Usage: python tools/bench_compare.py OLD.json NEW.json [min_ratio]
Prints queries whose ratio (new/old) exceeds min_ratio (default 1.5)
or is below 1/min_ratio, sorted by absolute delta.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict[str, float]:
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and d["parsed"]:
        d = d["parsed"]
    return d["queries"]


def main() -> int:
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    common = sorted(set(old) & set(new))
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    if not common or t_old == 0:
        print(
            f"no comparable data: {len(common)} common queries, "
            f"old total {t_old:.1f}s — artifacts are disjoint or zero-time"
        )
        return 1
    print(
        f"common queries: {len(common)}  old={t_old:.1f}s new={t_new:.1f}s "
        f"ratio={t_new / t_old:.2f}"
    )
    only_new = sorted(set(new) - set(old))
    if only_new:
        added = sum(new[q] for q in only_new)
        print(f"new-only: {len(only_new)} queries, {added:.1f}s")
    moved = [
        (new[q] - old[q], q)
        for q in common
        if old[q] > 0 and (new[q] / old[q] > thresh or new[q] / old[q] < 1 / thresh)
    ]
    for delta, q in sorted(moved, key=lambda t: -abs(t[0])):
        print(f"  {old[q]:7.2f} -> {new[q]:7.2f}  ({new[q] / max(old[q], 1e-9):5.2f}x)  {q}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
