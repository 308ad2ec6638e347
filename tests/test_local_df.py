"""qutil.local_df — driver rows as an Arrow-built LocalRelation — and the
list-of-dicts memory tables execute_sql registers through it.

Two cases run in a child process: one under a non-UTC process time zone
(naive datetimes must keep the process-local reading the row path gave
them), one from a working directory outside the repository (Python UDF
workers must still import the package)."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from squirreling_spark.engine import execute_sql
from squirreling_spark.qutil import local_df

REPO = Path(__file__).resolve().parent.parent


def _leaf_classes(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _run_child(code: str, cwd, tz: str | None = None) -> str:
    """Run ``code`` in a fresh interpreter (and so a fresh JVM) with the
    repository on the driver's ``sys.path`` only: PYTHONPATH is removed so
    Python workers see the package only if the session ships it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    if tz:
        env["TZ"] = tz
    prelude = f"import sys, time\ntime.tzset()\nsys.path.insert(0, {str(REPO)!r})\n"
    proc = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(code)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_local_df_nulls_nested_and_empty(spark):
    schema = "id bigint, s string, kv array<struct<k: string, v: double>>"
    df = local_df(
        spark, [(1, None, [("a", 1.5), None]), (None, "x", None)], schema
    )
    assert _leaf_classes(df) == ["LocalRelation"]
    assert [r.asDict(recursive=True) for r in df.orderBy("id").collect()] == [
        {"id": None, "s": "x", "kv": None},
        {"id": 1, "s": None, "kv": [{"k": "a", "v": 1.5}, None]},
    ]

    empty = local_df(spark, [], schema)
    assert empty.collect() == []
    assert empty.schema == df.schema


def test_memory_table_is_local_relation_without_rdd_scan(spark):
    users = [
        {"id": i, "name": f"u{i}", "active": i % 2 == 0} for i in range(20)
    ]
    res = execute_sql(
        spark,
        "SELECT active, count(*) AS n FROM users WHERE id > 3 GROUP BY active",
        tables={"users": users},
    )
    assert _leaf_classes(spark.table("users")) == ["LocalRelation"]
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert {r["active"]: r["n"] for r in res.collect()} == {True: 8, False: 8}


def test_memory_table_types_under_non_utc_zone():
    """Every type _infer_memory_schema emits, collected back under
    TZ=America/New_York. The expected rows are the ones the row-path
    ``createDataFrame(list)`` registration returned: naive timestamps
    keep the process-local reading, decimals round half-up to scale 18,
    struct keys union across rows, the dynamic column is JSON text
    tagged ``sq_dynamic``."""
    out = _run_child(
        """
        import datetime as dt, decimal
        from squirreling_spark.engine import execute_sql
        from squirreling_spark.session import get_spark

        spark = get_spark("local-df-tz", cpus=2)
        naive = dt.datetime(1999, 12, 31, 23, 59, 58, 123456)
        rows = [
            {"big": 1, "wide": 1, "flag": True, "name": "a", "nothing": None,
             "blob": bytearray(b"\\x00\\x01"), "ts": naive,
             "day": dt.date(1999, 1, 2), "dec": decimal.Decimal("1.5"),
             "arr": [1, 2], "obj": {"a": 1}, "objs": [{"k": "x"}],
             "dyn": 10, "tsarr": [naive]},
            {"big": 2, "wide": 2.5, "flag": False, "name": None,
             "nothing": None, "blob": None, "ts": None, "day": None,
             "dec": decimal.Decimal("-0.1234567890123456785"), "arr": None,
             "obj": {"b": "y"}, "objs": [{"k": "y", "n": 2}], "dyn": "10",
             "tsarr": None},
        ]
        got = execute_sql(
            spark, "SELECT * FROM t ORDER BY big", tables={"t": rows}
        ).collect()
        assert got == [
            {"big": 1, "wide": 1.0, "flag": True, "name": "a",
             "nothing": None, "blob": b"\\x00\\x01", "ts": naive,
             "day": dt.date(1999, 1, 2),
             "dec": decimal.Decimal("1.500000000000000000"), "arr": [1, 2],
             "obj": {"a": 1, "b": None}, "objs": [{"k": "x", "n": None}],
             "dyn": "10", "tsarr": [naive]},
            {"big": 2, "wide": 2.5, "flag": False, "name": None,
             "nothing": None, "blob": None, "ts": None, "day": None,
             "dec": decimal.Decimal("-0.123456789012345679"), "arr": None,
             "obj": {"a": None, "b": "y"}, "objs": [{"k": "y", "n": 2}],
             "dyn": '"10"', "tsarr": None},
        ], got
        schema = spark.table("t").schema
        assert schema.simpleString() == (
            "struct<big:bigint,wide:double,flag:boolean,name:string,"
            "nothing:void,blob:binary,ts:timestamp,day:date,"
            "dec:decimal(38,18),arr:array<bigint>,obj:struct<a:bigint,"
            "b:string>,objs:array<struct<k:string,n:bigint>>,dyn:string,"
            "tsarr:array<timestamp>>"
        ), schema.simpleString()
        assert schema["dyn"].metadata == {"sq_dynamic": True}
        # the instant is the process-local reading, 5 h off a UTC one
        (us,) = execute_sql(
            spark, "SELECT unix_micros(ts) AS us FROM t WHERE big = 1",
            tables={"t": rows},
        ).collect()
        local = int(time.mktime(naive.timetuple())) * 10**6 + naive.microsecond
        assert us["us"] == local, (us, local)
        print("ok")
        """,
        cwd=REPO,
        tz="America/New_York",
    )
    assert out.strip().endswith("ok")


def test_udf_query_runs_from_another_working_directory(tmp_path):
    out = _run_child(
        """
        from pyspark.sql.types import StringType
        from squirreling_spark.engine import execute_sql
        from squirreling_spark.functions.registry import FunctionSpec
        from squirreling_spark.session import get_spark

        spark = get_spark("udf-cwd", cpus=2)
        res = execute_sql(
            spark,
            "SELECT SHOUT(name) AS loud FROM people ORDER BY loud",
            tables={"people": [{"name": "ann"}, {"name": "bo"}]},
            functions={"SHOUT": FunctionSpec(
                apply=lambda s: s.upper() + "!", return_type=StringType())},
        )
        print([r["loud"] for r in res.collect()])
        """,
        cwd=tmp_path,
    )
    assert out.strip().splitlines()[-1] == "['ANN!', 'BO!']"
