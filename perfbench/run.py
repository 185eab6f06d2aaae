#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, with a per-layer ledger.

    python3 perfbench/run.py --workload near_dup --seed 3 --seconds 20 --trace 0

Each run is one workload in one process on a fresh Spark session over
``local[nproc]``: one client runs the workload's operations in a fixed
order, each after the previous one finished (a closed loop). A run is a
cold pass followed by warm passes; ``--seconds`` fixes how many:
``round(seconds / est_pass_s)``, at least two. A run thus does the same
work on every commit. Every result is verified after its
pass, outside the timed region.

``--trace 0`` reports the end-to-end metrics, all of them from the warm
passes: the cold pass is the run's warm-up. ``--trace 1`` runs a cold
pass, one traced warm pass and one untraced warm pass and reports the
per-layer metrics of the traced pass, including its overhead over the
untraced one, and the cold pass's wall time. The last stdout line is
the result JSON; the full ledger of the run is written to
``perfbench/.work/results/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

sys.path.insert(0, str(HERE))
import inputs  # noqa: E402

END_TO_END = (
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
    ("op_tail_s", "s"), ("ok_ratio", "ratio"),
)

PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.worker_imports_s", "s"),
    ("session.peak_rss_mb", "MB"), ("session.cold_pass_s", "s"),
    ("io.table_calls", "count"), ("io.table_s", "s"),
    ("plan.analysis_s", "s"), ("plan.optimizer_s", "s"),
    ("plan.planning_s", "s"),
    ("queries.build_s", "s"), ("queries.execute_s", "s"),
    ("queries.build_share", "ratio"),
    ("cache.shared_builds", "count"), ("cache.shared_build_s", "s"),
    ("cache.shared_hits", "count"), ("cache.shared_hit_ratio", "ratio"),
    ("cache.checkpoints", "count"), ("cache.checkpoint_s", "s"),
    ("cache.release_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.input_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.single_task_share", "ratio"),
    ("spark.core_busy_share", "ratio"), ("spark.uncovered_s", "s"),
    ("graph.rounds", "count"), ("graph.consumer_jobs", "count"),
    ("similarity.recall.ivf_kmeans_topk", "ratio"),
    ("pipeline.features_s", "s"), ("pipeline.merge_sites_s", "s"),
    ("pipeline.export_s", "s"), ("pipeline.feature_collection_s", "s"),
    ("sinks.write_s", "s"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_per_input_byte", "ratio"),
    ("streaming.ingest_s", "s"), ("streaming.batches", "count"),
    ("streaming.state_rows", "count"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
)

#: A run has at least this many warm passes, so pass_s is a median.
MIN_WARM_PASSES = 2

#: Least share of the exact cosine_topk neighbours (10 query vectors,
#: top 5 each) the approximate index must return; ten seeds measured
#: 0.92 to 1.0.
RECALL_FLOOR = {"ivf_kmeans_topk": 0.8}


# -- operations ---------------------------------------------------------

@dataclass
class Ctx:
    spark: object
    corpus: str
    stats: dict
    tracer: object | None = None


@dataclass(frozen=True)
class Op:
    """One operation: ``build`` returns a DataFrame (any eager work a
    query does while building counts as build time), ``execute`` runs
    it and returns what verification needs."""
    name: str
    build: Callable
    execute: Callable


def query_op(name: str) -> Op:
    """A registered query, executed by collecting its rows."""
    def build(ctx, state):
        from map_reduce_mongodb_spark.queries import QUERIES
        return QUERIES[name](ctx.spark, ctx.corpus)
    return Op(name, build, lambda ctx, state, df: df.toPandas())


def stage_op(name: str, make: Callable, source: str | None) -> Op:
    """One stage of the CLI's USGS chain, materialized by
    ``sinks.write_stage`` under the pass's output directory."""
    def build(ctx, state):
        return make(ctx, state[source] if source else None)

    def execute(ctx, state, df):
        from map_reduce_mongodb_spark import sinks
        state[name] = sinks.write_stage(df, f"{state['out']}/{name}")
    return Op(name, build, execute)


def _features(ctx, _):
    from map_reduce_mongodb_spark import io
    from map_reduce_mongodb_spark.pipeline import usgs
    events = io.table(ctx.spark, "events", ctx.corpus)
    return usgs.geojson_features(usgs.synthesize_usgs(events))


def _merge_sites(ctx, features):
    from pyspark.sql import functions as F

    from map_reduce_mongodb_spark.pipeline import usgs
    return usgs.merge_sites(features, order_key=F.col("_id").cast("long"))


def _export(ctx, joined):
    from map_reduce_mongodb_spark.pipeline import usgs
    return usgs.export_features(joined)


def _feature_collection_op() -> Op:
    def build(ctx, state):
        from map_reduce_mongodb_spark.pipeline import usgs
        return usgs.feature_collection(
            state["export"].orderBy("properties.siteCode"))

    def execute(ctx, state, df):
        from map_reduce_mongodb_spark import sinks
        sinks.export_feature_collection_json(
            df, f"{state['out']}/feature_collection.json")
    return Op("feature_collection", build, execute)


def _summary_op() -> Op:
    """The CLI's closing summary: one count per written stage."""
    def execute(ctx, state, _):
        return {name: state[name].count()
                for name in ("features", "joined", "export")}
    return Op("summary", lambda ctx, state: None, execute)


USGS_OPS = (
    query_op("streaming_dedup"),
    stage_op("features", _features, None),
    stage_op("joined", _merge_sites, "features"),
    stage_op("export", _export, "joined"),
    _feature_collection_op(),
    _summary_op(),
    query_op("usgs_site_join"),
)

#: Chain stages and the per-layer metric that reports their time.
PIPELINE_STAGES = {
    "features": "pipeline.features_s", "joined": "pipeline.merge_sites_s",
    "export": "pipeline.export_s",
    "feature_collection": "pipeline.feature_collection_s",
}

NEAR_DUP_OPS = tuple(query_op(n) for n in (
    "dedup_clusters", "dedup_survivors", "dup_graph_kcore",
    "semantic_dedup_clusters", "cosine_topk", "ivf_kmeans_topk",
    "dbscan_embeddings", "incremental_dedup_pairs"))


# -- verification -------------------------------------------------------

def verify_usgs(ctx, oracle, results, state) -> tuple[dict, dict]:
    import verify
    bad = {}
    for name in ("streaming_dedup", "usgs_site_join"):
        if name in results:
            bad[name] = verify.check_oracle(oracle, name, results[name])
    from map_reduce_mongodb_spark.queries import ORACLE_SQL
    sites = len(oracle.answer("usgs_site_join",
                              ORACLE_SQL["usgs_site_join"]))
    # merge_sites keeps sites with a streamflow or gage reading: event
    # types other than 'purchase' whose measurement array is not empty
    joined_sites = oracle.scalar(
        "SELECT count(DISTINCT user_id) FROM events "
        "WHERE event_type <> 'purchase' AND event_id % 17 <> 0")
    expect = {"features": ctx.stats["events"]["rows"],
              "joined": joined_sites, "export": sites}
    for name, got in results.get("summary", {}).items():
        n = expect[name]
        bad[name] = None if got == n else f"rows {got} != {n}"
    fc = Path(state["out"]) / "feature_collection.json"
    if fc.exists():
        n = len(json.loads(fc.read_text())["data"])
        bad["feature_collection"] = (
            None if n == sites else f"data has {n} features != {sites}")
    return bad, {}


def verify_near_dup(ctx, oracle, results, state) -> tuple[dict, dict]:
    import verify
    from map_reduce_mongodb_spark.queries import _jaccard_pairs_07
    bad, extra = {}, {}
    for name in ("semantic_dedup_clusters", "cosine_topk",
                 "incremental_dedup_pairs"):
        if name in results:
            bad[name] = verify.check_oracle(oracle, name, results[name])
    clusters = results.get("dedup_clusters")
    if clusters is not None:
        pairs = _jaccard_pairs_07(ctx.spark, ctx.corpus).toPandas()
        bad["dedup_clusters"] = (verify.check_clusters(clusters)
                                 or verify.check_edges_in_clusters(
                                     pairs, clusters))
        if "dedup_survivors" in results:
            bad["dedup_survivors"] = verify.check_survivors(
                results["dedup_survivors"], clusters,
                ctx.stats["documents"]["rows"])
    if "dbscan_embeddings" in results:
        bad["dbscan_embeddings"] = verify.check_row_count(
            results["dbscan_embeddings"], ctx.stats["embeddings"]["rows"],
            "embeddings")
    exact = results.get("cosine_topk")
    for name, floor in RECALL_FLOOR.items():
        if name in results and exact is not None:
            r = verify.recall(results[name], exact)
            extra[f"similarity.recall.{name}"] = r
            bad[name] = None if r >= floor else f"recall {r:.3f} < {floor}"
    return bad, extra


@dataclass(frozen=True)
class Workload:
    name: str
    scales: dict
    row_group_rows: int | None
    ops: tuple
    #: warm pass time on the reference box; sets the warm-pass count
    est_pass_s: float
    reset_caches: bool
    verify: Callable
    corrupt_target: str


WORKLOADS = {w.name: w for w in (
    Workload("usgs_etl", {"events": 67}, 5000, USGS_OPS, 5.5, False,
             verify_usgs, "usgs_site_join"),
    Workload("near_dup", {}, None, NEAR_DUP_OPS, 15.0, True,
             verify_near_dup, "cosine_topk"),
)}


# -- engine lifecycle ---------------------------------------------------

def prepare_env(cores: int) -> None:
    """Keep every scratch file of the engine and Spark inside WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_GRAFT_ORACLE_CACHE": str(WORK / "oracle"),
        "TMPDIR": str(tmp),
    })
    tempfile.tempdir = str(tmp)


def start_engine(app: str) -> tuple[object, dict]:
    """Import the engine, build its session and run a trivial query:
    the set-up a user of the engine pays once per process."""
    t0 = time.perf_counter()
    from map_reduce_mongodb_spark import io
    from map_reduce_mongodb_spark.session import get_spark
    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{app}", extra_conf={
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={WORK / 'derby'} "
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
        # the traced ledger reads every stage of a pass back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    t2 = time.perf_counter()
    io.ensure_worker_imports(spark)
    t3 = time.perf_counter()
    spark.range(1).collect()
    t4 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"setup_s": t4 - t0, "session.get_spark_s": t2 - t1,
                   "session.worker_imports_s": t3 - t2}


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    # io.ensure_worker_imports ships the engine to Python workers as a
    # zip it writes to /tmp; leave nothing behind there
    Path(f"/tmp/mrms_pkg_{os.getpid()}.zip").unlink(missing_ok=True)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -- passes -------------------------------------------------------------

@dataclass
class Pass:
    index: int
    wall_s: float = 0.0
    reset_s: float = 0.0
    start_ms: float = 0.0
    end_ms: float = 0.0
    rows: list = field(default_factory=list)
    dfs: dict = field(default_factory=dict)
    results: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)


def reset_caches(ctx) -> None:
    """Drop every cache an earlier pass left, so each near_dup pass
    pays its first-payer shared builds again."""
    from map_reduce_mongodb_spark import cache
    cache.release_caches()
    t0 = time.perf_counter()
    ctx.spark.catalog.clearCache()
    cache.forget_shared_artifacts()
    if ctx.tracer is not None and ctx.tracer.enabled:
        ctx.tracer.totals["cache.release_s"] += time.perf_counter() - t0


def run_pass(ctx, wl: Workload, index: int) -> Pass:
    sc = ctx.spark.sparkContext
    p = Pass(index)
    p.state["out"] = tempfile.mkdtemp(prefix=f"{wl.name}-p{index}-")
    p.start_ms = time.time() * 1000
    t0 = time.perf_counter()
    if wl.reset_caches:
        reset_caches(ctx)
    p.reset_s = time.perf_counter() - t0
    for op in wl.ops:
        group = f"{wl.name}.p{index}.{op.name}"
        sc.setJobGroup(group, group)
        if ctx.tracer is not None:
            ctx.tracer.op = op.name
        row = {"op": op.name, "pass": index, "group": group, "error": None}
        a = time.perf_counter()
        b = None
        try:
            df = op.build(ctx, p.state)
            b = time.perf_counter()
            out = op.execute(ctx, p.state, df)
            p.dfs[op.name] = df
            if out is not None:
                p.results[op.name] = out
        except Exception as e:  # a failing operation is counted, not fatal
            row["error"] = f"{type(e).__name__}: {e}"[:500]
        c = time.perf_counter()
        row["build_s"] = (b or c) - a
        row["execute_s"] = c - (b or c)
        p.rows.append(row)
    p.wall_s = time.perf_counter() - t0
    p.end_ms = time.time() * 1000
    sc.setJobGroup(f"{wl.name}.p{index}.verify", "verification")
    return p


def verify_pass(ctx, wl: Workload, oracle, p: Pass,
                hashes: dict) -> dict:
    """Mark each ledger row ok or failed; return extra measurements."""
    import verify
    try:
        bad, extra = wl.verify(ctx, oracle, p.results, p.state)
    except Exception as e:  # a crashing check fails the whole pass
        bad = {op.name: f"verification error {e!r}"[:500] for op in wl.ops}
        extra = {}
    for row in p.rows:
        name = row["op"]
        if f"similarity.recall.{name}" in extra:
            row["recall"] = extra[f"similarity.recall.{name}"]
        if row["error"] is None and name in p.results:
            h = verify.result_hash(p.results[name])
            row["result_hash"] = h
            first = hashes.setdefault(name, h)
            if first != h:
                bad[name] = bad.get(name) or "result differs between passes"
        if row["error"] is None and bad.get(name):
            row["error"] = f"verification: {bad[name]}"
        row["ok"] = row["error"] is None
    return extra


def output_size(out: str) -> tuple[int, int]:
    files = [f for f in Path(out).rglob("*")
             if f.is_file() and not f.name.startswith((".", "_"))]
    return sum(f.stat().st_size for f in files), len(files)


# -- metrics ------------------------------------------------------------

def end_to_end(passes: list[Pass], setup: dict, rss_mb: float) -> tuple:
    """End-to-end metrics of the warm passes. An operation's latency is
    its median (build + execute) over the warm passes; ``op_p50_s`` is
    the median and ``op_tail_s`` the highest of those latencies.

    The cold pass counts towards ``attempted`` and ``failed`` but not
    towards any time: it is one JIT-bound sample per run (the traced run
    reports it as ``session.cold_pass_s``). The tail is taken over
    operations, not single samples: with 16 to 28 warm samples a
    percentile with ten samples above it sits near the median and jumps
    between operations of different length."""
    rows = [r for p in passes for r in p.rows]
    per_op = {}
    for r in rows:
        if r["pass"] > 0:
            per_op.setdefault(r["op"], []).append(
                r["build_s"] + r["execute_s"])
    latency = {op: statistics.median(v) for op, v in per_op.items()}
    attempted = len(rows)
    failed = sum(not r["ok"] for r in rows)
    slowest = max(latency, key=latency.get)
    metrics = {
        "setup_s": setup["setup_s"],
        "pass_s": statistics.median(p.wall_s for p in passes[1:]),
        "op_p50_s": statistics.median(latency.values()),
        "op_tail_s": latency[slowest],
        "ok_ratio": 1.0 - failed / attempted,
    }
    detail = {"cold_pass_s": passes[0].wall_s, "peak_rss_mb": rss_mb,
              "op_latency_s": latency, "op_tail_op": slowest,
              "warm_passes": len(passes) - 1}
    return metrics, attempted, failed, detail


def per_layer(ctx, traced: Pass, setup: dict, extra: dict,
              sink_size: tuple[int, int]) -> dict:
    import tracing
    tr = ctx.tracer
    m = {k: 0.0 for k, _ in PER_LAYER}
    m.update({k: setup[k] for k in ("session.get_spark_s",
                                    "session.worker_imports_s")})
    m.update(tr.totals)
    m.update(extra)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m.update(tracing.window_metrics(ctx.spark, traced.start_ms,
                                    traced.end_ms, cores))
    by_group = tracing.group_metrics(ctx.spark,
                                     [r["group"] for r in traced.rows])
    for row in traced.rows:
        row.update(by_group.get(row["group"], {}))
        df = traced.dfs.get(row["op"])
        if df is not None and row["op"] in traced.results:
            row.update(tracing.plan_phases(df))
        if row["op"] in PIPELINE_STAGES:
            m[PIPELINE_STAGES[row["op"]]] = row["build_s"] + row["execute_s"]
    for key in ("plan.analysis_s", "plan.optimizer_s", "plan.planning_s"):
        m[key] = sum(r.get(key, 0.0) for r in traced.rows)
    build = sum(r["build_s"] for r in traced.rows)
    execute = sum(r["execute_s"] for r in traced.rows)
    m["queries.build_s"], m["queries.execute_s"] = build, execute
    m["queries.build_share"] = build / (build + execute)
    lookups = m["cache.shared_builds"] + m["cache.shared_hits"]
    m["cache.shared_hit_ratio"] = (m["cache.shared_hits"] / lookups
                                   if lookups else 0.0)
    m["graph.consumer_jobs"] = sum(r.get("spark.jobs", 0)
                                   for r in traced.rows
                                   if r["op"] in tr.graph_ops)
    if any(r["op"] in PIPELINE_STAGES for r in traced.rows):
        m["sinks.bytes_written"], m["sinks.files_written"] = sink_size
        m["sinks.bytes_per_input_byte"] = (
            sink_size[0] / ctx.stats["events"]["bytes"])
    m["trace.pass_s"] = traced.wall_s
    return m


# -- main ---------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="add a row to one expected oracle answer "
                         "(self-test: the run must then report failures)")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    for need in ("map_reduce_mongodb_spark", "tools/gen_random_corpus.py",
                 "tools/oracle_cache.py", "tests/conftest.py"):
        if not (ROOT / need).exists():
            print(f"perfbench: {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, str(ROOT))
    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    corpus, stats = inputs.ensure_corpus(ROOT, WORK, args.seed, wl.scales,
                                         wl.row_group_rows)

    spark, setup = start_engine(wl.name)
    try:
        import tracing
        import verify
        ctx = Ctx(spark, corpus, stats)
        if args.trace:
            ctx.tracer = tracing.Tracer()
            ctx.tracer.install()
            warm = 2
        else:
            warm = max(MIN_WARM_PASSES, round(args.seconds / wl.est_pass_s))
        oracle = verify.Oracle(
            corpus, wl.corrupt_target if args.corrupt_expected else None)
        passes, hashes = [], {}
        for i in range(1 + warm):
            traced = bool(args.trace) and i == 1
            if ctx.tracer is not None:
                ctx.tracer.enabled = traced
            p = run_pass(ctx, wl, i)
            if ctx.tracer is not None:
                ctx.tracer.enabled = False
            extra = verify_pass(ctx, wl, oracle, p, hashes)
            if traced:
                layer = per_layer(ctx, p, setup, extra,
                                  output_size(p.state["out"]))
            shutil.rmtree(p.state["out"], ignore_errors=True)
            p.dfs.clear()
            p.results.clear()
            passes.append(p)
        if args.trace:
            # the untraced warm pass runs after the traced one, so JIT
            # warm-up drift can only overstate the overhead
            layer["trace.overhead_s"] = passes[1].wall_s - passes[2].wall_s
            layer["session.cold_pass_s"] = passes[0].wall_s
        oracle.close()
        rss = peak_rss_mb(spark)
        if args.trace:
            layer["session.peak_rss_mb"] = rss
    finally:
        stop_engine(spark)

    e2e, attempted, failed, detail = end_to_end(passes, setup, rss)
    if args.trace:
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END}
    artifact = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cores": cores, "inputs": stats, "setup": setup, **detail,
        "pass_walls_s": [p.wall_s for p in passes],
        "reset_s": [p.reset_s for p in passes],
        "end_to_end": e2e, "per_layer": layer if args.trace else None,
        "ledger": [r for p in passes for r in p.rows],
    }
    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    path = results_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(artifact, indent=1, sort_keys=True,
                               default=str))
    for r in artifact["ledger"]:
        if not r["ok"]:
            print(f"FAILED {r['op']} pass {r['pass']}: {r['error']}")
    print(f"inputs {json.dumps({t: s['rows'] for t, s in stats.items()})}")
    print(f"cold pass {detail['cold_pass_s']:.2f} s; op_tail_s is "
          f"{detail['op_tail_op']}, the slowest of "
          f"{len(detail['op_latency_s'])} operations over "
          f"{detail['warm_passes']} warm passes; ledger: {path}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
