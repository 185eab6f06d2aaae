"""Result checks, run after each pass and outside its timed region.

- ``oracle``: the operation's ``ORACLE_SQL`` answer from DuckDB over the
  same parquet files, cached per corpus by ``tools/oracle_cache.py``,
  compared as the canonical order-insensitive row multiset the test
  suite uses.
- ``stable``: every operation's result hash must be the same on every
  pass of the run (all operations; the only check of the rows-only
  ``dup_graph_kcore``).
- invariants for the closure operations whose DuckDB oracle costs more
  than a whole run (``dedup_clusters``, ``dedup_survivors``,
  ``dbscan_embeddings``), after ``tools/scale_invariants.py``:
  component labels are each cluster's minimum member, every
  near-duplicate edge stays inside one cluster, survivors add up,
  DBSCAN returns one row per vector.
- ``recall``: an approximate top-k operation must find at least a fixed
  share of the exact ``cosine_topk`` neighbours.

A check returns ``None`` when it passes and a short reason otherwise.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter


def canonical(pdf) -> Counter:
    from tests.conftest import canonical_rows
    return canonical_rows(pdf)


def result_hash(result) -> str:
    """Order-insensitive hash of a result frame (or a dict of counts)."""
    if isinstance(result, dict):
        blob = json.dumps(result, sort_keys=True)
    else:
        blob = json.dumps([sorted(result.columns),
                           sorted(canonical(result).items())])
    return hashlib.md5(blob.encode()).hexdigest()


class Oracle:
    """DuckDB answers over one corpus. ``corrupt`` names an operation
    whose expected answer gets one extra row — the self-test's way to
    prove a wrong answer is reported."""

    def __init__(self, corpus: str, corrupt: str | None = None) -> None:
        import duckdb

        from map_reduce_mongodb_spark.io import TABLE_NAMES
        from tools import oracle_cache

        self._cache = oracle_cache
        self._corpus = corpus
        self._fingerprint = oracle_cache.corpus_fingerprint(corpus)
        self.corrupt = corrupt
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{corpus}/{t}.parquet'")

    def answer(self, name: str, sql: str):
        df = self._cache.fetch(self.con, sql, self._corpus,
                               fingerprint=self._fingerprint)
        if name == self.corrupt:
            if df.empty:
                raise RuntimeError(f"{name}: cannot corrupt an empty answer")
            df = df.iloc[list(range(len(df))) + [0]]
        return df

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def check_oracle(oracle: Oracle, name: str, got) -> str | None:
    from map_reduce_mongodb_spark.queries import ORACLE_SQL
    want = oracle.answer(name, ORACLE_SQL[name])
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    if canonical(got) != canonical(want):
        return "values differ from oracle"
    return None


def recall(approx, exact) -> float:
    """Share of the exact (query_id, neighbor_id) pairs found."""
    truth = set(zip(exact["query_id"], exact["neighbor_id"]))
    found = set(zip(approx["query_id"], approx["neighbor_id"]))
    return len(truth & found) / len(truth) if truth else 1.0


def check_clusters(clusters) -> str | None:
    """dedup_clusters: label = minimum member, size = member count."""
    if clusters.empty:
        return None
    g = clusters.groupby("cluster_id")["doc_id"]
    if (g.transform("min") != clusters["cluster_id"]).any():
        return "a cluster label is not its minimum member"
    if (g.transform("size") != clusters["cluster_size"]).any():
        return "cluster_size differs from the member count"
    return None


def check_edges_in_clusters(pairs, clusters) -> str | None:
    """Every near-duplicate edge joins two members of one cluster."""
    label = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        if a not in label or label.get(a) != label.get(b):
            return f"edge ({a}, {b}) crosses clusters"
    return None


def check_survivors(survivors, clusters, n_docs: int) -> str | None:
    """dedup_survivors keeps every document except the non-minimum
    members of each cluster."""
    dropped = int((clusters["doc_id"] != clusters["cluster_id"]).sum())
    kept = int(survivors["n_kept"].sum())
    if kept != n_docs - dropped:
        return f"kept {kept} != {n_docs} docs - {dropped} duplicates"
    return None


def check_row_count(got, n: int, what: str) -> str | None:
    return None if len(got) == n else f"rows {len(got)} != {what} {n}"
