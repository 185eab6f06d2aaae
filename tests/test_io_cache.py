"""Scan-plan memo (io._SCAN_CACHE, r12): the cached object is a lazy
plan keyed per (session, path, stat) — these pin the three contract
points: hit on repeat, session isolation (the sql_surface_cte_exists
regression), and stat-keyed invalidation on rewrite, which evicts the
superseded plan of every session wrapper."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from map_reduce_mongodb_spark.io import table
from tests.conftest import SF_DIR


def test_repeat_scan_is_cached_and_reads_data(spark):
    a = table(spark, "region", SF_DIR)
    b = table(spark, "region", SF_DIR)
    assert a is b  # same lazy plan object — the memo hit
    assert b.count() == a.count() > 0  # still computes from parquet


def test_child_session_gets_its_own_plan_and_parent_views_resolve(spark):
    """r12 regression: with an application-wide cache key, a
    spark.newSession() clone's DataFrame leaked into the parent, and
    createOrReplaceTempView registered the view in the CLONE's catalog
    — a later spark.sql on the parent raised TABLE_OR_VIEW_NOT_FOUND
    (observed as stream_static_enrich → sql_surface_cte_exists)."""
    child = spark.newSession()
    c = table(child, "region", SF_DIR)
    p = table(spark, "region", SF_DIR)
    assert c is not p  # per-session entries
    # the parent-session plan must register into the PARENT's catalog
    p.createOrReplaceTempView("scan_cache_probe")
    n = spark.sql("SELECT count(*) AS n FROM scan_cache_probe").head()[0]
    assert n == p.count()
    spark.catalog.dropTempView("scan_cache_probe")


def test_rewritten_file_invalidates_entry(spark, tmp_path):
    from pyspark.sql import SparkSession

    from map_reduce_mongodb_spark import io

    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    path = str(tmp_path / "region.parquet")
    before = table(spark, "region", str(tmp_path))
    n_before = before.count()
    # a second Python wrapper of the SAME JVM session gets its own
    # scan token, hence its own entry for the path
    twin = SparkSession(spark.sparkContext, spark._jsparkSession)
    table(twin, "region", str(tmp_path))
    assert sum(k[2] == path for k in io._SCAN_CACHE) == 2
    # rewrite the file in place with a subset — mtime/size change
    sub = before.where(F.col("r_regionkey") < 2).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(sub), tmp_path / "region.parquet")
    after = table(spark, "region", str(tmp_path))
    assert after is not before
    assert after.count() == 2 < n_before
    # the rewrite supersedes BOTH wrappers' plans, not just the
    # re-reading wrapper's own: no stale plan stays pinned
    assert sum(k[2] == path for k in io._SCAN_CACHE) == 1
