"""The benchmark's three workloads, as lists of timed operations.

Each operation drives the engine through a public entry point only:

- ``sql_interactive``: ``engine.execute_sql`` + ``QueryResult.collect``;
- ``tpch_batch``: ``inventory.QUERIES[name](spark, dir)`` + a noop-sink
  write;
- ``corpus_pipeline``: the same for the training-data queries, plus one
  ``pipeline.export.write_shards`` export.

An operation's ``run`` is the timed part; its ``check`` runs untimed right
after and returns ``None`` when the output is correct, else a reason.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import datagen, sqlstream
from perfbench.trace import NullTracer

# Scale factor of each workload's generated tables (lineitem = 6M x sf).
SCALE = {"sql_interactive": 0.01, "tpch_batch": 0.1, "corpus_pipeline": 0.005}

TPCH_QUERIES = [
    "hash_agg_q1",
    "group_having",
    "join_inner",
    "join_left",
    "join_semi",
    "topk",
    "window_row_number",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_volume",
    "q19_disjunct_revenue",
    "q21_waiting_supplier",
]
# The iterative trainers first, the media decoders after them: decode's
# slowdown inside a longer job sequence is what this workload keeps in
# view. The export write (SHARD_OP) runs last.
CORPUS_QUERIES = [
    "bpe_train_merges",
    "pagerank_docs",
    "part_triangle_stats",
    "image_pixel_decode",
    "audio_pcm_decode",
]
QUERIES = {"tpch_batch": TPCH_QUERIES, "corpus_pipeline": CORPUS_QUERIES}
SHARD_OP = "write_shards"
N_SHARDS = 8


@dataclass
class Op:
    key: str
    run: Callable[[Any], Any]  # (tracer) -> handle passed to check
    check: Callable[[Any], str | None]


class Workload:
    """Inputs and operations of one workload for one seed.

    ``prepare`` writes the inputs (no Spark); ``expect`` computes the
    pinned answers with DuckDB; ``warm_up`` and ``ops`` need a session.
    """

    def __init__(self, name: str, seed: int, work_dir: str):
        self.name = name
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data", f"{name}-{seed}")
        self.out_dir = os.path.join(work_dir, "out")
        self.expected: dict[str, Any] = {}
        self.statements: list[sqlstream.Statement] = []
        self.warmup: list[sqlstream.Statement] = []
        self.memory: dict[str, list[dict]] = {}
        self.udf_counter = None

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        parent = os.path.dirname(self.data_dir)
        if os.path.isdir(parent):
            for entry in os.listdir(parent):
                if entry != os.path.basename(self.data_dir):
                    shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        if not os.path.exists(os.path.join(self.data_dir, "_SUCCESS")):
            tables = datagen.make_tables(self.seed, SCALE[self.name])
            datagen.write_tables(tables, self.data_dir)
            open(os.path.join(self.data_dir, "_SUCCESS"), "w").close()
        if self.name == "sql_interactive":
            rng = random.Random(self.seed)
            self.memory = sqlstream.memory_tables(rng)
            self.statements = sqlstream.make_stream(rng)
            self.warmup = sqlstream.make_stream(random.Random(f"{self.seed}-warmup"), repeats=1)

    def expect(self) -> None:
        """Pin every operation's answer, computed by DuckDB."""
        if self.name == "sql_interactive":
            frames = sqlstream.duck_answers(self.statements, self.data_dir, self.memory)
            self.expected = {sql: canon(df) for sql, df in frames.items()}
            return
        from squirreling_spark import inventory

        import parity

        for name in QUERIES[self.name]:
            self.expected[name] = canon(parity.duck_frame(inventory.ORACLES[name], self.data_dir))

    # -- session side ---------------------------------------------------
    def warm_up(self, spark) -> None:
        """First touch. For ``sql_interactive``, one statement of every
        shape: a shape's first execution in a session pays one-time costs
        (Python UDF workers, operator code generation) several times the
        size of a repeat. Otherwise one query over every table."""
        if self.name == "sql_interactive":
            functions = sqlstream.make_functions()
            for st in self.warmup:
                self._sql_op(spark, st, functions).run(NullTracer())
        else:
            from squirreling_spark import inventory

            inventory.QUERIES["count_star"](spark, self.data_dir).collect()

    def ops(self, spark) -> list[Op]:
        if self.name == "sql_interactive":
            self.udf_counter = spark.sparkContext.accumulator(0)
            functions = sqlstream.make_functions(self.udf_counter)
            return [self._sql_op(spark, st, functions) for st in self.statements]
        ops = [self._query_op(spark, n) for n in QUERIES[self.name]]
        if self.name == "corpus_pipeline":
            ops.append(self._shard_op(spark))
        return ops

    def _path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def _sql_op(self, spark, st: sqlstream.Statement, functions: dict) -> Op:
        from squirreling_spark.engine import execute_sql

        def run(tracer):
            tables = {
                t: self._path(t) if t in sqlstream.PARQUET_TABLES else self.memory[t]
                for t in st.tables
            }
            with tracer.span("engine.execute_sql"):
                result = execute_sql(
                    spark,
                    st.sql,
                    tables=tables,
                    functions=functions if st.functions else None,
                    strict=st.strict,
                )
            with tracer.span("engine.collect"):
                rows = result.collect()
            tracer.note_result(result, rows, st.functions)
            return result.columns, rows

        def check(handle):
            import pandas as pd

            columns, rows = handle
            got = canon(pd.DataFrame.from_records(rows, columns=columns))
            return _compare(got, self.expected[st.oracle])

        return Op(st.key, run, check)

    def _query_op(self, spark, name: str) -> Op:
        from squirreling_spark import inventory

        def run(tracer):
            with tracer.span("build"):
                df = inventory.QUERIES[name](spark, self.data_dir)
            with tracer.span("sink.noop"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def check(df):
            return _compare(canon(df.toPandas()), self.expected[name])

        return Op(name, run, check)

    def _shard_op(self, spark) -> Op:
        from squirreling_spark.pipeline.export import write_shards
        from squirreling_spark.qutil import t

        path = os.path.join(self.out_dir, "shards")

        def run(tracer):
            docs = t(spark, self.data_dir, "documents").select("doc_id", "source", "text")
            with tracer.span("sink.write_shards"):
                write_shards(docs, "doc_id", path, n_shards=N_SHARDS)
            tracer.note_files(path)
            return path

        def check(path):
            return check_shards(path, self._path("documents"), N_SHARDS)

        return Op(SHARD_OP, run, check)


def canon(df) -> tuple:
    """tests/parity.py's canonical form: sorted column names plus the
    dtype-sensitive, order-insensitive cell strings."""
    import parity

    return sorted(df.columns), parity._canon_cells(parity._canon(df))


def _compare(got: tuple, want: tuple) -> str | None:
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    if got[1] != want[1]:
        bad = next(i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b)
        return f"row {bad}: {got[1][bad]!r} != {want[1][bad]!r}"
    return None


def shard_of(doc_id: int, n: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) % n


def _pos_key(doc_id: int) -> tuple[str, int]:
    return hashlib.md5(f"pos:{doc_id}".encode()).hexdigest()[:12], doc_id


def check_shards(path: str, documents: str, n: int) -> str | None:
    """Every document lands once, in its md5 shard, in md5 shuffle order."""
    import pyarrow.parquet as pq

    want = pq.read_table(documents, columns=["doc_id"]).column(0).to_pylist()
    seen: list[int] = []
    for shard in range(n):
        shard_dir = os.path.join(path, f"shard={shard}")
        if not os.path.isdir(shard_dir):
            continue
        ids: list[int] = []
        for f in sorted(os.listdir(shard_dir)):
            if f.endswith(".parquet"):
                ids += pq.read_table(os.path.join(shard_dir, f), columns=["doc_id"]).column(0).to_pylist()
        if any(shard_of(i, n) != shard for i in ids):
            return f"shard {shard} holds a document of another shard"
        if ids != sorted(ids, key=_pos_key):
            return f"shard {shard} is not in shuffle order"
        seen += ids
    if sorted(seen) != sorted(want):
        return f"{len(seen)} documents written, {len(want)} expected"
    return None
