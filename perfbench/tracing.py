"""Per-layer tracing for the traced benchmark run.

Everything here lives on the benchmark side: :class:`Tracer` wraps the
public functions of the engine's modules (``io.table``, the ``cache``
shared-build / checkpoint / release calls, the ``operators.graph``
fixpoints, ``streaming.windows.run_to_memory_sink`` and the ``sinks``)
and adds up time and counts per layer while tracing is on. Spark's own
numbers come from the status store, read after a pass through the job
group the harness gives each (operation, pass), so the engine itself is
never edited or slowed when tracing is off.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import Counter

#: Graph operators whose call marks an operation as a graph consumer.
GRAPH_FIXPOINTS = ("connected_components", "k_core", "k_core_profile")

MB = 1024.0 * 1024.0


class Tracer:
    """Spans and counters keyed by layer metric name.

    ``install()`` patches the engine once per process; the wrappers
    only measure while ``enabled`` is true, so the cold and untraced
    warm passes of a traced run execute the same code as an untraced
    run, plus one attribute test per wrapped call."""

    def __init__(self) -> None:
        self.enabled = False
        self.totals: Counter = Counter()
        self.op: str | None = None
        self.graph_ops: set[str] = set()

    # -- patching ------------------------------------------------------
    def install(self) -> None:
        from map_reduce_mongodb_spark import cache, io, sinks
        from map_reduce_mongodb_spark.operators import graph
        from map_reduce_mongodb_spark.streaming import windows

        patches = [
            (io, "table", self._timed("io.table_s", "io.table_calls")),
            (cache, "shared_parquet", self._shared_build(2)),
            (cache, "shared_value", self._shared_build(1)),
            (cache, "eager_checkpoint",
             self._timed("cache.checkpoint_s", "cache.checkpoints")),
            (cache, "release_caches", self._timed("cache.release_s")),
            (cache, "note_build_metric", self._note_metric),
            (sinks, "write_stage", self._timed("sinks.write_s")),
            (sinks, "export_feature_collection_json",
             self._timed("sinks.write_s")),
            (windows, "run_to_memory_sink", self._stream_sink),
        ] + [(graph, name, self._graph_call) for name in GRAPH_FIXPOINTS]
        for module, name, make in patches:
            original = getattr(module, name)
            wrapped = make(original)
            # rebind every `from module import name` copy as well
            for mod_name, mod in list(sys.modules.items()):
                if (mod_name.startswith("map_reduce_mongodb_spark")
                        and getattr(mod, name, None) is original):
                    setattr(mod, name, wrapped)

    def _timed(self, seconds_key: str, count_key: str | None = None):
        def make(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                if not self.enabled:
                    return fn(*args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.totals[seconds_key] += time.perf_counter() - t0
                    if count_key:
                        self.totals[count_key] += 1
            return inner
        return make

    def _shared_build(self, build_pos: int):
        """shared_parquet(spark, key, build) / shared_value(key, build):
        a call that invokes ``build`` is a build, any other is a hit."""
        def make(fn):
            @functools.wraps(fn)
            def inner(*args):
                if not self.enabled:
                    return fn(*args)
                build = args[build_pos]
                spent = []

                def timed_build():
                    t0 = time.perf_counter()
                    try:
                        return build()
                    finally:
                        spent.append(time.perf_counter() - t0)

                out = fn(*args[:build_pos], timed_build)
                if spent:
                    self.totals["cache.shared_builds"] += 1
                    self.totals["cache.shared_build_s"] += spent[0]
                else:
                    self.totals["cache.shared_hits"] += 1
                return out
            return inner
        return make

    def _note_metric(self, fn):
        @functools.wraps(fn)
        def inner(name, value):
            if self.enabled and name.endswith("_rounds"):
                self.totals["graph.rounds"] += int(value)
            return fn(name, value)
        return inner

    def _graph_call(self, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if self.enabled and self.op:
                self.graph_ops.add(self.op)
            return fn(*args, **kwargs)
        return inner

    def _stream_sink(self, fn):
        @functools.wraps(fn)
        def inner(stream_df, *args, **kwargs):
            if not self.enabled:
                return fn(stream_df, *args, **kwargs)
            streams = stream_df.sparkSession.streams
            listener = _progress_listener()
            streams.addListener(listener)
            t0 = time.perf_counter()
            try:
                return fn(stream_df, *args, **kwargs)
            finally:
                self.totals["streaming.ingest_s"] += time.perf_counter() - t0
                _drain_listener_bus(stream_df.sparkSession)
                streams.removeListener(listener)
                self.totals["streaming.batches"] += listener.batches
                self.totals["streaming.state_rows"] += listener.state_rows
        return inner


def _progress_listener():
    """A StreamingQueryListener that counts micro-batches and keeps the
    largest state-store row count it sees."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches = 0
            self.state_rows = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batches += 1
            rows = sum(op.numRowsTotal
                       for op in event.progress.stateOperators)
            self.state_rows = max(self.state_rows, rows)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def _scala_items(seq):
    """Iterate a Scala collection reached through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _drain_listener_bus(spark) -> None:
    """Wait until Spark has delivered every queued listener event, so
    the status store and listeners reflect all finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase seconds recorded by the DataFrame's own
    QueryExecution (set once it has been executed)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase, key in (("analysis", "plan.analysis_s"),
                       ("optimization", "plan.optimizer_s"),
                       ("planning", "plan.planning_s")):
        summary = phases.get(phase)
        out[key] = summary.get().durationMs() / 1000.0 \
            if summary.isDefined() else 0.0
    return out


def _stage_row(store, stage_id: int):
    """StageData of a stage's last attempt, or None for a stage that
    never ran (skipped because its shuffle output was reused)."""
    try:
        sd = store.lastStageAttempt(stage_id)
    except Exception:  # py4j error: the store no longer holds it
        return None
    return sd if sd.submissionTime().isDefined() else None


def group_metrics(spark, groups: list[str]) -> dict[str, dict]:
    """Spark metrics per job group: jobs, stages, tasks, executor time,
    I/O and spill, from the status store."""
    sc = spark.sparkContext
    _drain_listener_bus(spark)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for group in groups:
        m = Counter()
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(group):
            m["spark.jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for stage_id in stage_ids:
            sd = _stage_row(store, stage_id)
            if sd is not None:
                _add_stage(m, sd)
        out[group] = dict(m)
    return out


def _add_stage(m: Counter, sd) -> None:
    m["spark.stages"] += 1
    m["spark.tasks"] += sd.numTasks()
    run_s = sd.executorRunTime() / 1000.0
    m["spark.executor_run_s"] += run_s
    if sd.numTasks() == 1:
        m["spark.single_task_run_s"] += run_s
    m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
    m["spark.gc_s"] += sd.jvmGcTime() / 1000.0
    m["spark.input_mb"] += sd.inputBytes() / MB
    m["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
    m["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
    m["spark.spill_mb"] += sd.diskBytesSpilled() / MB


def window_metrics(spark, start_ms: float, end_ms: float,
                   cores: int) -> dict[str, float]:
    """Spark totals over every job submitted inside a wall-clock window
    (streaming micro-batches included, which run outside the harness's
    job groups), plus the window's core occupancy:
    ``spark.uncovered_s`` is the part of the window with no task
    running at all."""
    sc = spark.sparkContext
    _drain_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    m = Counter()
    intervals = []
    stage_ids = set()
    for job in _scala_items(store.jobsList(None)):
        submitted = job.submissionTime()
        if (submitted.isDefined()
                and start_ms <= submitted.get().getTime() <= end_ms):
            m["spark.jobs"] += 1
            stage_ids.update(_scala_items(job.stageIds()))
    for stage_id in stage_ids:
        sd = _stage_row(store, stage_id)
        if sd is None:
            continue
        _add_stage(m, sd)
        tasks = store.taskList(sd.stageId(), sd.attemptId(), 2 ** 31 - 1)
        for task in _scala_items(tasks):
            launch = task.launchTime().getTime()
            dur = task.duration()
            if dur.isDefined():
                intervals.append((launch, launch + dur.get()))
    wall_s = (end_ms - start_ms) / 1000.0
    m["spark.uncovered_s"] = max(
        0.0, wall_s - _covered_ms(intervals, start_ms, end_ms) / 1000.0)
    run_s = m["spark.executor_run_s"]
    m["spark.single_task_share"] = (
        m.pop("spark.single_task_run_s", 0.0) / run_s if run_s else 0.0)
    m["spark.core_busy_share"] = run_s / (wall_s * cores) if wall_s else 0.0
    return dict(m)


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b) intervals clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
