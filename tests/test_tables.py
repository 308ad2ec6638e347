"""Session-scoped parquet sources (tables.source): a path's schema is
inferred once per file state and parquet settings; rows are never kept."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from squirreling_spark.engine import execute_sql
from squirreling_spark.qutil import events_with_ts, t
from squirreling_spark.tables import _file_state, load_table, source


def _write(path, columns: dict, mtime_ns: int | None = None) -> str:
    pq.write_table(pa.table(columns), path)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))
    return str(path)


def _jobs_in(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_execute_sql_runs_no_job_before_collect(spark, tmp_path):
    path = _write(tmp_path / "t.parquet", {"k": [1, 2, 3]})
    first = execute_sql(spark, "SELECT k FROM t", tables={"t": path})
    assert sorted(r["k"] for r in first.collect()) == [1, 2, 3]
    probe = "source-repeat-probe"
    # jobs started before execute_sql sets its own group land in `probe`
    spark.sparkContext.setJobGroup(probe, "repeat execute_sql job probe")
    res = execute_sql(
        spark, "SELECT count(*) AS n FROM t WHERE k > 1", tables={"t": path}
    )
    assert _jobs_in(spark, probe) + _jobs_in(spark, res.job_group) == 0
    assert res.collect() == [{"n": 2}]
    assert _jobs_in(spark, res.job_group) > 0


def test_rewritten_file_is_read_again(spark, tmp_path):
    path = _write(tmp_path / "t.parquet", {"k": [1, 2]}, mtime_ns=10**18)
    q = "SELECT * FROM t ORDER BY k"
    assert execute_sql(spark, q, tables={"t": path}).collect() == [
        {"k": 1}, {"k": 2}
    ]
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write(path, {"k": [3], "v": ["x"]}, mtime_ns=10**18 + 10**9)
    assert execute_sql(spark, q, tables={"t": path}).collect() == [
        {"k": 3, "v": "x"}
    ]
    assert load_table(spark, str(tmp_path), "t").collect() == [(3, "x")]


def test_two_names_for_one_path_self_join(spark, tmp_path):
    path = _write(tmp_path / "t.parquet", {"k": [1, 2, 3], "p": [0, 1, 2]})
    source(spark, path)  # the schema is cached before both reads
    rows = execute_sql(
        spark,
        "SELECT a.k AS child, b.k AS parent FROM a JOIN b ON a.p = b.k "
        "ORDER BY child",
        tables={"a": path, "b": path},
    ).collect()
    assert rows == [{"child": 2, "parent": 1}, {"child": 3, "parent": 2}]


def test_missing_path_raises_spark_error(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        execute_sql(spark, "SELECT * FROM t", tables={"t": missing})
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "nope")


def test_changed_parquet_setting_is_read_again(spark, tmp_path):
    path = _write(tmp_path / "b.parquet", {"b": pa.array([b"hi"])})
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(source(spark, path).dtypes) == {"b": "binary"}
        spark.conf.set(key, "true")
        assert source(spark, path).collect()[0]["b"] == "hi"
    finally:
        spark.conf.set(key, prev)
    assert dict(source(spark, path).dtypes) == {"b": "binary"}


def test_directory_state_ignores_spark_bookkeeping_files(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    _write(d / "part-0.parquet", {"k": [1]})
    state = _file_state(str(d))
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("x")
    assert _file_state(str(d)) == state
    _write(d / "part-1.parquet", {"k": [2]})
    assert [f[0] for f in _file_state(str(d))] == [
        "part-0.parquet", "part-1.parquet"
    ]
    assert _file_state(str(tmp_path / "missing")) is None


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_load_leaves_the_session_settings(spark, tmp_path):
    _write(tmp_path / "events.parquet", {"ts": pa.array(
        [1_700_000_000_000_000], pa.timestamp("us")
    )})
    before = spark.conf.get(_NANOS)
    spark.conf.set(_NANOS, "false")
    try:
        events_with_ts(spark, str(tmp_path)).collect()
        assert spark.conf.get(_NANOS) == "false"
    finally:
        spark.conf.set(_NANOS, before)


def test_nanosecond_events_truncate_to_microseconds(spark, tmp_path):
    # session.get_spark reads TIMESTAMP(NANOS) as bigint nanos; t() keeps
    # the microseconds, as DuckDB's ns -> us cast does
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    _write(tmp_path / "events.parquet", {
        "event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns")),
    })
    df = t(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = df.selectExpr("event_id", "unix_micros(ts) AS us").collect()
    assert sorted((r["event_id"], r["us"]) for r in rows) == [
        (1, 1_700_000_000_123_456), (2, 1_700_000_001_000_000),
    ]


def test_two_source_reads_of_one_path_self_join(spark, tmp_path):
    """``source`` returns a fresh DataFrame per call, so the DataFrame
    API can join two reads of one path (one shared object would make
    ``a["p"] == b["k"]`` an ambiguous self-join)."""
    path = _write(tmp_path / "t.parquet", {"k": [1, 2, 3], "p": [0, 1, 2]})
    a, b = source(spark, path), source(spark, path)
    rows = a.join(b, a["p"] == b["k"]).select(a["k"], b["k"]).collect()
    assert sorted(tuple(r) for r in rows) == [(2, 1), (3, 2)]
