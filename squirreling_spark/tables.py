"""Table loading + registration for the synthetic TPC-H-ish test data.

Mirrors the reference's per-query table namespace
(``executeSql({tables: {...}})``, reference src/types.d.ts:26): tables are a
flat name -> source mapping registered as temp views.

Every parquet path the engine reads goes through ``source``, which infers
a file's schema once per file state, as the reference's data sources
declare their columns once (src/types.d.ts:77-83, ``cachedDataSource``
in src/backend/dataSource.js:80-129). ``spark.read.parquet`` infers the
schema by reading footers in a Spark job; ``source`` keeps each path's
schema under a signature of the file state — ``(mtime_ns, size)`` of a
file, or the listing of a directory's data files — and of the session's
parquet settings that change the inferred types. A repeat read with the
same signature passes the known schema to the reader and runs no job. A
rewritten file or a changed setting misses and is inferred again. Only
metadata is kept: every query still scans the files, and each call
returns a fresh DataFrame — two reads of one path joined through the
DataFrame API must be distinct relations, or ``a["p"] == b["k"]`` is an
ambiguous self-join.

``engine.execute_sql`` goes one step further for its table map. Each
SparkSession keeps one execute_sql namespace (an attribute of the
session object), one entry per table name: the DataFrame a parquet path
was read into, kept under the path's signature above, and a memory
table's Arrow-built relation, kept under its schema and rows. A repeat
call with the same signature reuses the relation and only registers the
view again, so the call's map still wins over views registered between
calls. CSV and JSON paths and DataFrame sources are not kept.

At 100 TB the same code path applies: ``spark.read.parquet`` on a directory
of part files gives partition-parallel scans with predicate pushdown, column
pruning, and row-group skipping for free via Catalyst + the vectorized
parquet reader.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session settings that change the schema Spark infers from a parquet file.
_INFERENCE_SETTINGS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# absolute path -> (signature, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_state(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a file, or the sorted ``(relative path,
    mtime_ns, size)`` of every data file under a directory, skipping the
    names Spark's file listing skips (``_SUCCESS``, ``.crc`` files).
    None when ``os.stat`` cannot see the path (globs, URIs, missing
    paths)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if not _hidden(n):
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append(
                    (os.path.relpath(f, path), fst.st_mtime_ns, fst.st_size)
                )
    return tuple(sorted(files))


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _signature(spark: SparkSession, key: str) -> tuple | None:
    """The state of the file or directory at the absolute path ``key``
    plus the session's parquet inference settings, or None when
    ``os.stat`` cannot see the path."""
    # stat before inferring: a file rewritten in between is stored under
    # its older state, so the next call misses instead of reading stale
    state = _file_state(key)
    if state is None:
        return None
    return (state, tuple(spark.conf.get(k) for k in _INFERENCE_SETTINGS))


def _source(
    spark: SparkSession, path: str, signature: tuple | None
) -> tuple[DataFrame, StructType | None]:
    """``source`` given the path's ``_signature``, plus the schema it
    read the path with (None when the path is read uncached)."""
    if signature is None:
        return spark.read.parquet(path), None
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == signature:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (signature, df.schema)
    return df, df.schema


def source(spark: SparkSession, path: str) -> DataFrame:
    """A fresh DataFrame over the parquet file or directory at ``path``,
    its schema inferred once per file state and parquet settings (see
    the module docstring)."""
    return _source(spark, path, _signature(spark, os.path.abspath(path)))[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table from a scale-factor directory."""
    return source(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
