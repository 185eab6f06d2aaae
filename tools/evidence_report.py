"""Evidence ledger: newest driver CORRECTNESS round per registered
query, plus the upcoming window — the at-a-glance audit of the
rotation that `queries.py::_curated_order` derives.

Usage: python tools/evidence_report.py [--verbose]
"""

from __future__ import annotations

import argparse
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--verbose", action="store_true",
                    help="one line per query instead of the summary")
    args = ap.parse_args()

    from map_reduce_mongodb_spark.queries import (
        ORACLE_SQL, QUERIES, ROWS_ONLY_GATES, _DRIVER_WINDOW,
        _evidence_rounds)

    newest, red = _evidence_rounds()
    names = list(QUERIES)
    window = set(names[:_DRIVER_WINDOW])

    if args.verbose:
        for i, n in enumerate(names, 1):
            ev = f"r{newest[n]}" if n in newest else "never"
            kind = "oracled" if n in ORACLE_SQL else (
                f"rows-only (gate: {ROWS_ONLY_GATES[n]})")
            flags = []
            if i <= _DRIVER_WINDOW:
                flags.append("WINDOW")
            if n in red:
                flags.append("RED")
            print(f"{i:3d} {n:42s} {ev:6s} {kind}"
                  + (f"  [{' '.join(flags)}]" if flags else ""))
        return 0

    by_round = Counter("never" if n not in newest else f"r{newest[n]}"
                       for n in names)
    print(f"registered: {len(names)} "
          f"({len(ORACLE_SQL)} oracled, "
          f"{len(names) - len(ORACLE_SQL)} rows-only)")
    print("newest evidence:",
          ", ".join(f"{k}={v}" for k, v in sorted(by_round.items())))
    never = [n for n in names if n not in newest]
    print(f"never driver-checked: {len(never)} "
          f"(in upcoming window: {sum(1 for n in never if n in window)})")
    print(f"red latest rows: {sorted(red & set(names))}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
