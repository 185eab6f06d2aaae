"""Seeded benchmark inputs.

Every table comes from ``tools/gen_random_corpus.gen`` and depends only
on (seed, scales, row-group size) and the generator's own source. A
generated corpus is cached under the benchmark's work directory, keyed
on all four, so a repeated seed skips generation and an edited generator
never serves a stale corpus. The engine is handed only the directory of
parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from pathlib import Path

STATS_FILE = "stats.json"


def corpus_key(root: Path, seed: int, scales: dict[str, float],
               row_group_rows: int | None) -> str:
    gen_src = (root / "tools" / "gen_random_corpus.py").read_bytes()
    spec = json.dumps({"seed": seed, "scales": scales,
                       "row_group_rows": row_group_rows}, sort_keys=True)
    return hashlib.sha256(
        spec.encode() + b"\0" + hashlib.sha256(gen_src).digest()
    ).hexdigest()[:20]


def ensure_corpus(root: Path, work: Path, seed: int,
                  scales: dict[str, float],
                  row_group_rows: int | None) -> tuple[str, dict]:
    """Return (corpus dir, {table: {"rows", "bytes"}}), generating the
    corpus on a cache miss. The stats file is written last, so a corpus
    without it is an interrupted generation and is rebuilt."""
    out = work / "corpus" / corpus_key(root, seed, scales, row_group_rows)
    stats_path = out / STATS_FILE
    if stats_path.exists():
        return str(out), json.loads(stats_path.read_text())
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    from tools.gen_random_corpus import gen

    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    counts = gen(str(tmp), seed, scales=scales,
                 row_group_rows=row_group_rows)
    stats = {name: {"rows": rows,
                    "bytes": (tmp / f"{name}.parquet").stat().st_size}
             for name, rows in sorted(counts.items())}
    (tmp / STATS_FILE).write_text(json.dumps(stats, sort_keys=True))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return str(out), stats
