"""Adjudicate bench reproducibility: compare two BENCH detail records
(the full JSON written by bench.py) per query and report whether the two
runs agree within a tolerance (r5 verdict #2: two consecutive full runs
must agree within +-30% per query or the ratios are environment noise,
not measurements).

Usage: python tools/bench_agreement.py run1.json run2.json [tol]

bench.py times each pair interleaved, so the per-pair floor-adjusted
ratio is the unit of measurement: this compares it next to the Spark
minimum, for the sf0.1 section and, when both records carry a completed
sf1 section, for sf1 (plus the sf1 DuckDB minima). Pairs flagged
``unstable`` (spread > 2x) in either run are reported separately — their
disagreement is already declared by the record itself.
"""

from __future__ import annotations

import json
import sys


def _section(rec: dict, *path):
    cur = rec
    for p in path:
        if not isinstance(cur, dict) or p not in cur:
            return {}
        cur = cur[p]
    return cur if isinstance(cur, dict) else {}


def compare(a: dict, b: dict, label: str, tol: float, unstable: set):
    rows = []
    for name in sorted(set(a) & set(b)):
        x, y = a[name], b[name]
        if not (isinstance(x, (int, float)) and isinstance(y, (int, float))):
            continue
        if min(x, y) <= 0:
            continue
        rel = max(x, y) / min(x, y) - 1.0
        rows.append((name, x, y, rel))
    bad = [r for r in rows if r[3] > tol and r[0] not in unstable]
    print(f"\n== {label}: {len(rows)} paired, "
          f"{len(bad)} beyond {tol:.0%} (excl. declared-unstable)")
    for name, x, y, rel in sorted(rows, key=lambda r: -r[3]):
        flag = (" UNSTABLE" if name in unstable
                else ("  <-- DISAGREES" if rel > tol else ""))
        print(f"  {name:28s} {x:8.3f} {y:8.3f}  {rel:6.1%}{flag}")
    return len(bad)


def main() -> int:
    p1, p2 = sys.argv[1], sys.argv[2]
    tol = float(sys.argv[3]) if len(sys.argv) > 3 else 0.30
    r1 = json.load(open(p1))
    r2 = json.load(open(p2))
    n_bad = 0
    for label, sec1, sec2 in (
        ("sf0.1", r1, r2),
        ("sf1", _section(r1, "sf1"), _section(r2, "sf1")),
    ):
        unstable = set(sec1.get("unstable") or []) | set(
            sec2.get("unstable") or []
        )
        keys = [("queries", "spark (min)"),
                ("ratio_floor_adjusted", "floor-adjusted ratio")]
        if label == "sf1":
            keys.append(("duckdb", "duckdb (min)"))
        for key, what in keys:
            n_bad += compare(
                _section(sec1, key), _section(sec2, key),
                f"{label} {what}", tol, unstable,
            )
        print(f"\n{label} unstable-declared (excluded): {sorted(unstable)}")
    print(f"\nverdict: {'AGREE' if n_bad == 0 else f'{n_bad} DISAGREEMENTS'}"
          f" at tol={tol:.0%}")
    return 0 if n_bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
