"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: around the public
entry points the workloads call, and around engine functions the tracer
wraps for the duration of one traced operation. Counters are read from
the Spark status stores, which are populated with the UI off: the job
and stage store of ``sc._jsc.sc().statusStore()`` and the SQL execution
store of the shared state. Every operation runs in its own job group, so
its jobs, stages and SQL executions are attributed to it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import time

# The engine functions wrapped in a traced operation: (module, attribute,
# span name). A wrapper adds to "<span name>_s" and "<span name>_calls"
# where PER_LAYER has them.
WRAPPED = [
    ("squirreling_spark.engine", "_register_tables", "engine.register_tables"),
    ("squirreling_spark.functions.sqldialect", "rewrite_reference_sql", "sqldialect.rewrite"),
    ("squirreling_spark.functions.sqlstrict", "validate_reference_sql", "sqlstrict.validate"),
    ("squirreling_spark.functions.sqlregistry", "register_reference_functions", "sqlregistry.register"),
    ("squirreling_spark.tables", "load_table", "tables.load"),
    ("squirreling_spark.qutil", "spread", "qutil.spread"),
    ("squirreling_spark.pipeline.ckpt", "truncate_lineage", "ckpt.truncate"),
]

# Every per-layer metric and its unit, in report order.
PER_LAYER = {
    "engine.register_tables_s": "s",
    "engine.execute_sql_s": "s",
    "engine.collect_s": "s",
    "engine.retry_count": "count",
    "sqldialect.rewrite_s": "s",
    "sqlstrict.validate_s": "s",
    "sqlregistry.register_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "udf.evaluated_per_returned": "ratio",
    "build_s": "s",
    "build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sql_executions": "count",
    "driver.gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.python_gap_s": "s",
    "spark.gc_s": "s",
    "tables.load_calls": "count",
    "qutil.spread_calls": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "ckpt.truncate_calls": "count",
    "ckpt.truncate_s": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "trace.overhead_s": "s",
}


class NullTracer:
    """The untraced run's tracer: every hook does nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def operation(self, key: str, job_group: str):
        yield

    def note_result(self, result, rows, uses_udf: bool) -> None:
        pass

    def note_files(self, path: str) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and per-layer totals for the operations it wraps."""

    def __init__(self, spark, udf_counter=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.udf_counter = udf_counter
        self.totals = {name: 0.0 for name in PER_LAYER}
        self.spans: list[tuple] = []  # (op key, span name, start, end, parent)
        self._stack: list[str] = []
        self._op = ""
        self._groups: list[str] = []
        self._udf_rows = 0
        self._udf_evals = 0

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        entered = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((self._op, name, start, end, parent))
            metric = name + "_s"
            if metric in self.totals:
                self.totals[metric] += end - start
            if name == "build":
                self.totals["build_jobs"] += len(self._job_ids())
            self.totals["trace.overhead_s"] += (start - entered) + (time.perf_counter() - end)

    def _wrap(self, fn, name: str):
        counts_only = name + "_s" not in PER_LAYER

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name + "_calls" in self.totals:
                self.totals[name + "_calls"] += 1
            if counts_only:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def _patched(self):
        """Swap each WRAPPED function for a wrapper wherever a
        squirreling_spark module binds it (from-imports included), and
        count SparkSession.sql calls inside execute_sql as retries."""
        from pyspark.sql import SparkSession

        swaps = []
        for mod_name, attr, span in WRAPPED:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(original, span)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("squirreling_spark"):
                    for key, value in list(vars(mod).items()):
                        if value is original:
                            swaps.append((mod, key, original))
                            setattr(mod, key, wrapper)
        sql = SparkSession.sql
        tracer = self

        def counted_sql(session, *args, **kwargs):
            if "engine.execute_sql" in tracer._stack:
                tracer._sql_calls += 1
            return sql(session, *args, **kwargs)

        SparkSession.sql = counted_sql
        try:
            yield
        finally:
            SparkSession.sql = sql
            for mod, key, original in swaps:
                setattr(mod, key, original)

    # -- one operation --------------------------------------------------
    @contextlib.contextmanager
    def operation(self, key: str, job_group: str):
        self._op = key
        self._groups = [job_group]
        self._sql_calls = 0
        spans_before = len(self.spans)
        evals_before = self.udf_counter.value if self.udf_counter else 0
        start = time.perf_counter()
        with self._patched():
            yield
        wall = time.perf_counter() - start
        executes = sum(1 for s in self.spans[spans_before:] if s[1] == "engine.execute_sql")
        self.totals["engine.retry_count"] += max(self._sql_calls - executes, 0)
        if self.udf_counter:
            self._udf_evals += self.udf_counter.value - evals_before
        self._rollup(wall)

    def note_result(self, result, rows, uses_udf: bool) -> None:
        self._groups.append(result.job_group)
        tracker = result.df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if tracker.contains(phase):
                self.totals[f"catalyst.{phase}_ms"] += tracker.apply(phase).durationMs()
        if uses_udf:
            self._udf_rows += len(rows)

    def note_files(self, path: str) -> None:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    self.totals["sink.files_written"] += 1
                    self.totals["sink.bytes_written"] += os.path.getsize(os.path.join(root, f))

    def _job_ids(self) -> list[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        return sorted({j for g in self._groups if g for j in tracker.getJobIdsForGroup(g)})

    def _rollup(self, wall: float) -> None:
        """Add the operation's job, stage and SQL-execution totals."""
        store = self.sc._jsc.sc().statusStore()
        job_ids = self._job_ids()
        job_s = 0.0
        stage_ids = set()
        for jid in job_ids:
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                job_s += (job.completionTime().get().getTime() - job.submissionTime().get().getTime()) / 1e3
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        t = self.totals
        t["spark.jobs"] += len(job_ids)
        t["driver.gap_s"] += max(wall - job_s, 0.0)
        for sid in stage_ids:
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            t["spark.stages"] += 1
            t["spark.tasks"] += stage.numTasks()
            run_s = stage.executorRunTime() / 1e3
            cpu_s = stage.executorCpuTime() / 1e9
            t["spark.executor_run_s"] += run_s
            t["spark.executor_cpu_s"] += cpu_s
            t["spark.python_gap_s"] += max(run_s - cpu_s, 0.0)
            t["spark.gc_s"] += stage.jvmGcTime() / 1e3
            t["spark.shuffle_read_bytes"] += stage.shuffleReadBytes()
            t["spark.shuffle_write_bytes"] += stage.shuffleWriteBytes()
            t["spark.spill_bytes"] += stage.diskBytesSpilled()
        jobs = set(job_ids)
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        executions = sql_store.executionsList()
        for i in range(executions.size()):
            ex_jobs = executions.apply(i).jobs().keySet()
            it = ex_jobs.iterator()
            while it.hasNext():
                if it.next() in jobs:
                    t["spark.sql_executions"] += 1
                    break

    def finish(self, passes: list[dict]) -> dict[str, float]:
        """Per-layer values per pass."""
        n = len(passes)
        t = {name: total / n for name, total in self.totals.items()}
        t["udf.evaluated_per_returned"] = self._udf_evals / self._udf_rows if self._udf_rows else 0.0
        return t
