"""Helpers shared by inventory queries.

Floating-point policy: the correctness gate hash-compares values against a
DuckDB oracle. Double summation order differs between engines (and between
Spark partition layouts), so every SUM/AVG over doubles goes through a
decimal cast — decimal aggregation is exact and order-independent, then the
final value is cast back to double. At 100 TB this is also the *right*
semantics: results don't drift with partition count.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from squirreling_spark.tables import load_table, register_views  # noqa: F401

DEC = "decimal(27,6)"


def dcol(c: str | Column) -> Column:
    """Cast a double column to exact decimal for order-independent math."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def dsum(c: str | Column, alias: str) -> Column:
    """Order-independent exact SUM over a double column, emitted as double."""
    return F.sum(dcol(c)).cast("double").alias(alias)


def davg(c: str | Column, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, double division."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        F.sum(dcol(col)).cast("double")
        / F.count(F.when(col.isNotNull(), 1))
    ).alias(alias)


# DuckDB-side equivalents (kept adjacent so both dialects stay in sync).
def o_dsum(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE)"


def o_davg(expr: str) -> str:
    return (
        f"(CAST(sum(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE)"
        f" / count({expr}))"
    )


def events_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` normalized to TIMESTAMP, adapting to however
    the parquet file stores it (this has changed across testdata
    generations):

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so we read
      nanos as long (``nanosAsLong`` conf) and truncate to microseconds,
      matching DuckDB's native ns->us truncation.
    - timestamp[us] (current testdata): arrives as TIMESTAMP_NTZ; cast to
      TIMESTAMP. With the session timezone pinned (UTC) this preserves the
      wall-clock value exactly, so both engines agree.
    - TIMESTAMP: pass through.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_with_ts(spark, sf_dir)
    return load_table(spark, sf_dir, name)


def spread(
    df: DataFrame, min_factor: int = 1, by: list[str] | None = None
) -> DataFrame:
    """Repartition up to the cluster's parallelism — used before
    compute-heavy stages (hashing, vector math).

    Parquet can't split below row-group granularity, so a small/single-row-
    group file scans as ~1 task; any CPU-bound stage pipelined on top of it
    serializes. Redistributing the (small) input rows first costs one cheap
    shuffle and unlocks full-cluster parallelism for the expensive stage —
    the standard shape whenever compute-per-row ≫ row size, at any scale.

    Repartitions unconditionally: the earlier revision probed
    ``df.rdd.getNumPartitions()`` to skip the shuffle for already-wide
    inputs, but that forces a Java-RDD plan conversion at query-BUILD time
    on every call — a driver-side cost per plan on a real cluster. Callers
    apply this only to inputs known to scan narrow (single-row-group
    files, small dimension-sized tables), where the one extra round-robin
    shuffle of already-small data is noise; genuinely wide inputs should
    simply not be wrapped.

    ``by``: hash-partition on the named columns instead of round-robin.
    Prefer this whenever a (near-)unique key exists: round-robin
    repartition LOCALLY SORTS every batch first
    (``spark.sql.execution.sortBeforeRepartition``, on by default for
    retry determinism) — over wide payloads (document text, embeddings)
    that sort costs ~25% of the whole minhash pipeline (measured sf0.1);
    hash partitioning needs no sort and a unique key balances just as
    well."""
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    if by:
        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)


def det_round(col: Column, digits: int = 6) -> Column:
    """Deterministic cross-engine half-up rounding: floor(x*10^d + 0.5)/10^d.

    Engines disagree on ROUND(double, d) exactly when the value sits on a
    d-decimal tie: Spark rounds the double's exact binary expansion
    (0.0032134999... -> 0.003213) while DuckDB's scale-multiply hits .5
    and rounds away (-> 0.003214) — found by the sf0.1 parity sweep on a
    label centroid whose decimal-exact mean was EXACTLY 0.0032135
    (quantized sum 0.616992 / 192). This form runs the same IEEE multiply,
    add, floor, divide in both engines, so ties resolve identically.
    Use for rounding ratios of exactly-quantized values (decimal means);
    plain ROUND stays fine for irrational results (cosines, norms)."""
    factor = float(10 ** digits)
    return F.floor(col * factor + F.lit(0.5)) / F.lit(factor)


@_contextmanager
def pinned_shuffle(spark: SparkSession, n: int = 16):
    """Pin ``spark.sql.shuffle.partitions`` around a streaming cycle and
    restore the previous value. Stateful streaming operators allocate one
    state-store partition per shuffle partition in EVERY micro-batch —
    under the driver's vanilla session (200) that is 200 state tasks per
    batch for a few-thousand-row fixture stream. The value is captured at
    stream START for the checkpoint's lifetime, so pinning here affects
    only the wrapped query; results are partition-count-invariant. At
    real scale, size this to the key cardinality instead."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def local_df(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """Driver-side rows as a DataFrame: the one way the engine turns
    Python values into a relation.

    ``rows`` are sequences in ``schema`` order; ``schema`` is a
    ``StructType`` (its field metadata is kept) or the ``"name type,
    ..."`` DDL string ``createDataFrame`` takes. The rows are converted
    column-wise to one ``pyarrow.Table`` typed by ``to_arrow_schema``
    and handed to ``createDataFrame``, so:

    - the result is a ``LocalRelation``: it carries real size
      statistics, and scans of it run in the JVM with no Python-worker
      tasks. ``createDataFrame(list)`` would instead build a Python RDD
      whose every scan schedules Python workers;
    - above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB
      by default) Spark keeps the Arrow batches as a JVM RDD instead of
      a ``LocalRelation``; scans still stay out of Python;
    - ``None`` is a SQL null in any column, nested types (arrays,
      structs, given as sequences) work, and an empty ``rows`` gives an
      empty relation of the right schema.

    Pass values of each field's Python type: Arrow converts them without
    the row path's type checks (a float in a bigint field truncates). A
    naive ``datetime`` in a timestamp field is read as UTC, not in the
    process-local zone ``createDataFrame(list)`` used; pass aware values
    to pin the instant (``engine._coerce_row`` does)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


@_contextmanager
def adaptive_off_if(spark: SparkSession, small: bool):
    """Disable AQE inside the block when ``small`` (r12, guide §2.2).

    For VOCAB-SIZED iterative rounds (BPE/WordPiece merge loops) AQE
    materializes every tiny exchange as its own job; at ~30 jobs per
    trained query the scheduling overhead dominates (measured 5.1 ->
    3.6 s on wordpiece_train_merges at sf0.1). The gate is the caller's
    own state-size signal (e.g. the collapsed vocab fit in one
    partition): a 100 TB-scale state keeps AQE's coalescing and skew
    handling — this is a small-state fast path, not a local[32] tune."""
    if not small:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
