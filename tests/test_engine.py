"""API façade tests (reference src/index.js surface: executeSql / parseSql /
planSql / extractTables, error shapes from src/validation/)."""

import json

import pytest

from squirreling_spark.engine import (
    ColumnNotFoundError,
    TableNotFoundError,
    UnknownFunctionError,
    execute_sql,
    extract_tables,
    parse_sql,
    plan_sql,
)


def test_execute_sql_memory_table(spark):
    res = execute_sql(
        spark,
        "SELECT active, count(*) AS cnt FROM users GROUP BY active",
        tables={
            "users": [
                {"id": 1, "name": "Alice", "active": True},
                {"id": 2, "name": "Bob", "active": False},
                {"id": 3, "name": "Charlie", "active": True},
            ]
        },
    )
    assert res.columns == ["active", "cnt"]
    rows = {r["active"]: r["cnt"] for r in res.collect()}
    assert rows == {True: 2, False: 1}


def test_execute_sql_parquet_path(spark, sf001):
    res = execute_sql(
        spark,
        "SELECT count(*) AS n FROM r",
        tables={"r": f"{sf001}/region.parquet"},
    )
    assert res.collect() == [{"n": 5}]


def test_rows_iterator_streams(spark):
    res = execute_sql(
        spark, "SELECT id FROM t ORDER BY id", tables={"t": [{"id": i} for i in range(10)]}
    )
    it = res.rows()
    assert next(it) == {"id": 0}
    assert next(it) == {"id": 1}


def test_table_not_found_lists_available(spark):
    execute_sql(spark, "SELECT 1", tables={"known_table": [{"a": 1}]})
    with pytest.raises(TableNotFoundError, match="available tables"):
        execute_sql(spark, "SELECT * FROM no_such_table_xyz")


def test_parse_sql_valid_and_invalid(spark):
    assert parse_sql(spark, "SELECT 1 AS x")
    with pytest.raises(Exception):
        parse_sql(spark, "SELEKT 1 FORM t")


def test_plan_sql_shows_physical_plan(spark, sf001):
    execute_sql(spark, "SELECT 1", tables={"li": f"{sf001}/lineitem.parquet"})
    plan = plan_sql(spark, "SELECT l_orderkey FROM li WHERE l_quantity > 10")
    assert "Physical Plan" in plan


def test_extract_tables(spark):
    names = extract_tables(
        spark, "SELECT * FROM a JOIN b ON a.x = b.y WHERE a.z IN (SELECT z FROM c)"
    )
    assert set(n.lower() for n in names) >= {"a", "b"}


def test_column_not_found(spark):
    with pytest.raises(ColumnNotFoundError):
        execute_sql(
            spark, "SELECT nope FROM ct", tables={"ct": [{"a": 1}]}
        ).collect()


def test_error_type_ignores_literals_in_the_plan(spark):
    # Spark's message embeds the analyzed plan, literals included; the
    # error type follows Spark's error condition, not the message text
    with pytest.raises(ColumnNotFoundError, match='"nope" not found'):
        execute_sql(
            spark,
            "SELECT nope FROM ct WHERE a = 'TABLE_OR_VIEW_NOT_FOUND'",
            tables={"ct": [{"a": "x"}]},
        ).collect()


def test_unknown_function_suggestion(spark):
    with pytest.raises(UnknownFunctionError, match="Did you mean LOWER"):
        execute_sql(spark, "SELECT lowerr(a) FROM ft", tables={"ft": [{"a": "x"}]})


def test_errors_carry_query_positions(spark):
    """Reference errors carry query positions (src/validation/
    parseErrors.js:105-178): ours expose {line, column, fragment} mapped
    from Spark's query context, and the message names the location."""
    with pytest.raises(ColumnNotFoundError) as e:
        execute_sql(
            spark,
            "SELECT a,\n       nmae\nFROM pt",
            tables={"pt": [{"a": 1, "name": "x"}]},
        )
    pos = e.value.position
    assert pos and pos["line"] == 2 and pos["fragment"] == "nmae"
    assert "line 2" in str(e.value)
    with pytest.raises(UnknownFunctionError) as e:
        execute_sql(spark, "SELECT uppre(a) FROM pt", tables={"pt": [{"a": "x"}]})
    assert e.value.position and e.value.position["line"] == 1
    assert "Did you mean UPPER" in str(e.value)


def test_unknown_function_position_is_call_site(spark):
    """The reported position is the CALL site (word-boundary + paren),
    not the first substring hit inside a longer identifier (r9 advice:
    'SELECT myupperx, upperx(a)' must point at upperx(, not myupperx)."""
    q = "SELECT myupperx, upperx(a) FROM ft2"
    with pytest.raises(UnknownFunctionError) as e:
        execute_sql(
            spark, q, tables={"ft2": [{"myupperx": 1, "a": "x"}]}
        )
    assert f"at position {q.index('upperx(')}" in str(e.value)


def test_unknown_function_position_skips_string_literals(spark):
    with pytest.raises(UnknownFunctionError, match="at position 21"):
        execute_sql(
            spark, "SELECT 'nope(' AS s, nope(id) AS r FROM t",
            tables={"t": [{"id": 1}]},
        )


def test_flat_dotted_column_retry_leaves_string_literals(spark):
    rows = execute_sql(
        spark, "SELECT a.b, 'a.b' AS s FROM t",
        tables={"t": [{"a.b": 7, "id": 1}]},
    ).collect()
    assert [r["s"] for r in rows] == ["a.b"]


_FLAT = {"t": [{"a.b": 7, "c.d": 8, "id": 1}]}
# one region and one age per city: the first row of each group is known
_CITIES = {"users": [
    {"id": 1, "city": "x", "region": "e", "age": 30},
    {"id": 2, "city": "x", "region": "e", "age": 30},
    {"id": 3, "city": "y", "region": "w", "age": 40},
]}
_LOOSE_CHAINED = (
    "SELECT city, region, age + 1 AS a1, a1 * 2 AS a2, COUNT(*) AS n"
    " FROM users GROUP BY city"
)


def test_two_flat_dotted_columns_in_one_statement(spark):
    rows = execute_sql(spark, "SELECT a.b, c.d FROM t", tables=_FLAT).collect()
    assert [tuple(r.values()) for r in rows] == [(7, 8)]
    rows = execute_sql(
        spark, "SELECT c.d + a.b AS s FROM t", tables=_FLAT
    ).collect()
    assert rows == [{"s": 15}]


def test_loose_group_by_over_chained_aliases(spark):
    rows = execute_sql(spark, _LOOSE_CHAINED, tables=_CITIES).collect()
    assert sorted(tuple(r.values()) for r in rows) == [
        ("x", "e", 31, 62, 2), ("y", "w", 41, 82, 1),
    ]


def test_parquet_path_lists_its_columns_when_one_is_missing(spark, sf001):
    with pytest.raises(ColumnNotFoundError) as e:
        execute_sql(
            spark, "SELECT nope FROM n",
            tables={"n": f"{sf001}/nation.parquet"},
        )
    msg = str(e.value)
    assert 'Column "nope" not found. Available columns: ' in msg
    for col in ("n_nationkey", "n_name", "n_regionkey"):
        assert col in msg


@pytest.mark.parametrize(
    "query, tables, most",
    [
        (_LOOSE_CHAINED, _CITIES, 2),
        ("SELECT a.b, c.d FROM t", _FLAT, 1),
        ("SELECT city, COUNT(*) AS n FROM users GROUP BY city", _CITIES, 1),
    ],
)
def test_analyses_per_statement(spark, monkeypatch, query, tables, most):
    # each SparkSession.sql call inside execute_sql is one analysis: a
    # loose GROUP BY pays one failing analysis before its retry, the
    # other shapes are rewritten before the first
    from pyspark.sql import SparkSession

    calls = []
    sql = SparkSession.sql

    def counted(session, *args, **kwargs):
        calls.append(args[0])
        return sql(session, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", counted)
    execute_sql(spark, query, tables=tables)
    assert 1 <= len(calls) <= most


def test_cache_tables(spark):
    res = execute_sql(
        spark,
        "SELECT count(*) AS n FROM cached_t",
        tables={"cached_t": [{"a": i} for i in range(50)]},
        cache_tables=["cached_t"],
    )
    assert res.collect() == [{"n": 50}]
    assert spark.catalog.isCached("cached_t")
    spark.catalog.uncacheTable("cached_t")


def test_cancellation_api(spark):
    res = execute_sql(spark, "SELECT 1 AS x", tables={})
    res.cancel()  # no job running — must not raise


def test_cancel_running_query(spark):
    """Mid-query cancellation (the reference's AbortSignal semantics:
    abort rejects rather than truncates, CHANGELOG 0.4.x). The 8e12-row
    cross product must still be running when cancel() comes: at 2000
    rows (8e9) a broadcast nested-loop join over the in-memory table
    finishes inside the 2 s wait."""
    import threading
    import time

    slow = execute_sql(
        spark,
        """
        SELECT count(*) AS n FROM (
          SELECT a.id FROM big a CROSS JOIN big b CROSS JOIN big c
        )
        """,
        tables={"big": [{"id": i} for i in range(20000)]},
    )
    errors = []

    def run():
        try:
            slow.collect()
            errors.append("completed")
        except Exception:
            errors.append("cancelled")

    th = threading.Thread(target=run)
    th.start()
    time.sleep(2.0)
    slow.cancel()
    th.join(timeout=60)
    assert errors == ["cancelled"]


def test_extract_tables_fallback_ignores_comments_and_strings(spark):
    """The textual fallback must not pick up keywords from comments,
    string literals, or subquery parens, and must honor quoted
    identifiers (round-4 verdict housekeeping)."""
    q = (
        "-- from not_a_table\n"
        "SELECT (SELECT max(x) FROM `quoted table`) AS m,\n"
        "       'from fake_table' AS s\n"
        "/* join comment_table */\n"
    )
    assert extract_tables(spark, q) == ["quoted table"]


def test_memory_schema_unions_struct_keys_across_rows(spark):
    """A nested-dict key present only in a LATER row is still a struct
    field (reference memory rows are per-row dynamic JS objects; the
    first-sample-only inference dropped it — round-5 regression)."""
    from squirreling_spark.engine import _infer_memory_schema

    schema = _infer_memory_schema(
        [
            {"id": 1, "json": {"a": 1, "b": 2}},
            {"id": 2, "json": {"c": 3}},
        ]
    )
    assert [f.name for f in schema["json"].dataType.fields] == ["a", "b", "c"]

    rows = execute_sql(
        spark,
        "SELECT data.id, j.key, j.value "
        "FROM data JOIN JSON_EACH(data.json) AS j ON TRUE",
        tables={
            "data": [
                {"id": 1, "json": {"a": 1, "b": 2}},
                {"id": 2, "json": {"c": 3}},
            ]
        },
    ).collect()
    assert [(r["id"], r["key"], r["value"]) for r in rows] == [
        (1, "a", "1"),
        (1, "b", "2"),
        (2, "c", "3"),
    ]


def test_memory_schema_unions_array_struct_keys(spark):
    from squirreling_spark.engine import _infer_memory_schema

    schema = _infer_memory_schema(
        [
            {"tools": [{"name": "x"}]},
            {"tools": [{"name": "y", "level": 2}]},
        ]
    )
    elem = schema["tools"].dataType.elementType
    assert [f.name for f in elem.fields] == ["name", "level"]


# --- dynamic (mixed-type) memory columns — r8: the last 9 conformance
# dynamic_skips. Mixed scalar JS types register as JSON-text STRING
# columns tagged sq_dynamic; the dialect layer supplies the reference's
# dynamic semantics (aggregate numeric-skip, ORDER BY numeric coercion,
# bare-WHERE truthiness, CAST decode).


def test_dynamic_column_registers_and_tags():
    from squirreling_spark.engine import _infer_memory_schema

    schema = _infer_memory_schema(
        [{"v": 10}, {"v": "abc"}, {"v": None}, {"v": False}]
    )
    f = schema["v"]
    assert f.dataType.typeName() == "string"
    assert f.metadata.get("sq_dynamic") is True
    # single-typed columns stay untagged
    s2 = _infer_memory_schema([{"v": 1}, {"v": 2}])
    assert not s2["v"].metadata


def test_dynamic_sum_avg_skip_non_numeric(spark):
    rows = execute_sql(
        spark,
        "SELECT SUM(value) AS total, AVG(value) AS avg FROM data",
        tables={"data": [
            {"id": 1, "value": 10}, {"id": 2, "value": None},
            {"id": 3, "value": "abc"}, {"id": 4, "value": 20},
        ]},
    ).collect()
    assert rows[0]["total"] == 30.0 and rows[0]["avg"] == 15.0


def test_dynamic_order_by_numeric_coercion(spark):
    rows = execute_sql(
        spark,
        "SELECT * FROM data ORDER BY value",
        tables={"data": [
            {"id": 1, "value": 10}, {"id": 2, "value": "5"},
            {"id": 3, "value": 20}, {"id": 4, "value": 15},
        ]},
    ).collect()
    # '5' coerces to 5 (JS < operator), so the string sorts first; raw
    # JSON text keeps the string '5' distinct from a number
    assert [r["value"] for r in rows] == ['"5"', "10", "15", "20"]


@pytest.mark.parametrize(
    "order_by",
    [
        "v", "concat('(', 'x'), v", "concat(')', 'x'), v",
        "v LIMIT 10", "v OFFSET 0",
    ],
)
def test_dynamic_order_by_item_after_quoted_paren(spark, order_by):
    # neither a bracket inside a string literal nor a trailing LIMIT /
    # OFFSET may hide the dynamic item from the numeric coercion: "x" is
    # NULL (first), then 9, 10, 100
    rows = execute_sql(
        spark,
        f"SELECT id FROM data ORDER BY {order_by}",
        tables={"data": [
            {"id": 1, "v": 10}, {"id": 2, "v": 9},
            {"id": 3, "v": "x"}, {"id": 4, "v": 100},
        ]},
    ).collect()
    assert [r["id"] for r in rows] == [3, 2, 1, 4]


def test_dynamic_order_by_in_a_framed_window(spark):
    # the window's ORDER BY list ends where its frame starts: `v` still
    # sorts by the JS numeric order (2, "9", 10), as without the frame
    data = [{"id": 1, "v": 10}, {"id": 2, "v": "9"}, {"id": 3, "v": 2}]
    for frame in ("", " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"):
        rows = execute_sql(
            spark,
            f"SELECT id, SUM(id) OVER (ORDER BY v{frame}) AS s FROM data",
            tables={"data": data},
        ).collect()
        assert {r["id"]: r["s"] for r in rows} == {3: 3, 2: 5, 1: 6}


@pytest.mark.parametrize(
    "window, expected",
    [
        # a rank-family call with nested brackets in its arguments
        ("LAG(coalesce(x, 0)) OVER ()", [None, 1, 0]),
        # the input order goes before the frame, not after it
        (
            "ROW_NUMBER() OVER (PARTITION BY g ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)",
            [1, 2, 1],
        ),
    ],
)
def test_orderless_rank_windows(spark, window, expected):
    rows = execute_sql(
        spark,
        f"SELECT id, {window} AS p FROM t",
        tables={"t": [
            {"id": 1, "g": "a", "x": 1},
            {"id": 2, "g": "a", "x": None},
            {"id": 3, "g": "b", "x": 3},
        ]},
    ).collect()
    assert [r["p"] for r in sorted(rows, key=lambda r: r["id"])] == expected


def test_dynamic_where_truthiness(spark):
    rows = execute_sql(
        spark,
        "SELECT * FROM data WHERE value",
        tables={"data": [
            {"id": 1, "value": 0}, {"id": 2, "value": 1},
            {"id": 3, "value": False}, {"id": 4, "value": True},
        ]},
    ).collect()
    assert sorted(r["id"] for r in rows) == [2, 4]


def test_dynamic_where_truthiness_in_a_subquery(spark):
    rows = execute_sql(
        spark,
        "SELECT id FROM data WHERE id IN (SELECT id FROM data WHERE value)"
        " ORDER BY id",
        tables={"data": [
            {"id": 1, "value": 0}, {"id": 2, "value": 1},
            {"id": 3, "value": False}, {"id": 4, "value": True},
        ]},
    ).collect()
    assert [r["id"] for r in rows] == [2, 4]


def test_dynamic_equals_null_matches_nothing(spark):
    rows = execute_sql(
        spark,
        "SELECT * FROM data WHERE value = NULL",
        tables={"data": [
            {"id": 1, "value": None}, {"id": 2, "value": 0},
            {"id": 3, "value": False},
        ]},
    ).collect()
    assert rows == []


def test_dynamic_nullif_preserves_member_types(spark):
    rows = execute_sql(
        spark,
        "SELECT NULLIF(a, b) AS result FROM data",
        tables={"data": [
            {"id": 1, "a": "first", "b": "second"},
            {"id": 2, "a": 10, "b": 20},
        ]},
    ).collect()
    # JSON text: '"first"' (string) and '10' (number) stay distinct
    assert [r["result"] for r in rows] == ['"first"', "10"]


def test_dynamic_cast_timestamp_millis(spark):
    rows = execute_sql(
        spark,
        "SELECT CAST(v AS TIMESTAMP) AS ts FROM data",
        tables={"data": [{"v": 1704067200000}, {"v": "2024-06-15"}]},
    ).collect()
    # numeric dynamic member = epoch ms (JS new Date(ms))
    assert rows[0]["ts"].isoformat().startswith("2024-01-01T00:00:00")
    assert rows[1]["ts"].isoformat().startswith("2024-06-15")


def test_dynamic_array_elements_still_raise():
    import pytest as _pytest

    from squirreling_spark.engine import _infer_memory_schema

    with _pytest.raises(TypeError, match="mixed dynamic ARRAY"):
        _infer_memory_schema([{"v": [1, "a"]}])


@pytest.mark.parametrize(
    "query, expected",
    [
        ("SELECT v FROM t ORDER BY v", [{"v": 2}, {"v": 3}, {"v": 10}]),
        ("SELECT sum(v) AS s FROM t", [{"s": 15}]),
        ("SELECT max(v) AS m FROM t", [{"m": 10}]),
        ("SELECT v FROM t WHERE v > 2 ORDER BY v", [{"v": 3}, {"v": 10}]),
    ],
)
def test_dynamic_typing_ignores_views_of_earlier_calls(spark, query, expected):
    # an earlier call leaves a view whose `v` is dynamic; this call's own
    # `t.v` is BIGINT and must not get the JSON-text rewrite
    execute_sql(spark, "SELECT 1", tables={"aaa": [{"v": 1}, {"v": "x"}]})
    rows = execute_sql(
        spark, query, tables={"t": [{"v": 3}, {"v": 10}, {"v": 2}]}
    ).collect()
    assert rows == expected


_AGES = [
    {"id": 1, "age": 25}, {"id": 2, "age": "40"},
    {"id": 3, "age": 35}, {"id": 4, "age": "x"},
]
_FLAGS = [
    {"id": 1, "value": 0}, {"id": 2, "value": 1},
    {"id": 3, "value": False}, {"id": 4, "value": True},
]


@pytest.mark.parametrize(
    "select, rows, expected",
    [
        # JS Number() coercion: "40" is 40, "x" is NaN and never ordered
        ("id FROM t WHERE age >= 30", _AGES, [2, 3]),
        ("id FROM t WHERE 30 <= age", _AGES, [2, 3]),
        ("id FROM t WHERE age BETWEEN 30 AND 45", _AGES, [2, 3]),
        # loose ==: numbers as numbers, a string member against a string
        # as text; <> is NOT of it, so "x" <> 25 holds
        ("id FROM t WHERE age = 40", _AGES, [2]),
        ("id FROM t WHERE age = '40'", _AGES, [2]),
        ("id FROM t WHERE age = 'x'", _AGES, [4]),
        ("id FROM t WHERE age IN (40, 25)", _AGES, [1, 2]),
        ("id FROM t WHERE age <> 25", _AGES, [2, 3, 4]),
        ("age * 2 AS id FROM t", _AGES, [None, 50, 70, 80]),
        # JS truthiness wherever a condition is read
        ("id FROM t WHERE (value)", _FLAGS, [2, 4]),
        ("id FROM t WHERE value AND id > 0", _FLAGS, [2, 4]),
        ("id FROM t WHERE NOT value", _FLAGS, [1, 3]),
        ("CASE WHEN value THEN id END AS id FROM t", _FLAGS,
         [None, None, 2, 4]),
        ("CASE WHEN id > 2 THEN CASE WHEN value THEN id END END AS id"
         " FROM t", _FLAGS, [None, None, None, 4]),
        ("id FROM t WHERE CASE WHEN value THEN id > 0 END", _FLAGS, [2, 4]),
        # loose == against a number reads a boolean as 1 or 0
        ("id FROM t WHERE value = 1", _FLAGS, [2, 4]),
        ("id FROM t WHERE value <> 1", _FLAGS, [1, 3]),
        ("id FROM t WHERE value IN (0, 5)", _FLAGS, [1, 3]),
    ],
)
def test_dynamic_column_reads_follow_js_coercion(
    spark, select, rows, expected
):
    got = execute_sql(spark, f"SELECT {select}", tables={"t": rows}).collect()
    ids = sorted((r["id"] for r in got), key=lambda v: (v is not None, v))
    assert ids == expected


@pytest.mark.parametrize(
    "query",
    [
        "SELECT id FROM t WHERE (b)",
        "SELECT id FROM (SELECT * FROM t) WHERE (b)",
    ],
)
def test_where_of_one_bracketed_group(spark, query):
    # Spark alone reads `FROM t WHERE (b)` as the alias WHERE with a
    # column list
    table = [{"id": 1, "b": True}, {"id": 2, "b": False}]
    rows = execute_sql(spark, query, tables={"t": table}).collect()
    assert rows == [{"id": 1}]


def test_execute_sql_on_table_map_launches_no_job(spark, monkeypatch):
    """Dialect resolution reads the call's table map: planning a
    dynamic-typing statement over memory tables runs no Spark job (the
    public listTables() costs 5) until the result is collected."""
    from pathlib import Path

    from pyspark.sql import Catalog

    def no_listing(*_a, **_k):
        raise AssertionError("execute_sql listed the catalog")

    monkeypatch.setattr(Catalog, "listTables", no_listing)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    probe = "no-job-probe"
    # jobs started before execute_sql sets its own group land in `probe`
    sc.setJobGroup(probe, "execute_sql job-count probe")
    res = execute_sql(
        spark,
        "SELECT city, COUNT(*) AS n, MAX(age) AS oldest FROM users "
        "WHERE age >= 30 GROUP BY city ORDER BY city",
        tables={"users": [
            {"city": "Oslo", "age": 31}, {"city": "Oslo", "age": "n/a"},
            {"city": "Rome", "age": 52}, {"city": "Rome", "age": 12},
        ]},
    )

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(probe)) + len(
            tracker.getJobIdsForGroup(res.job_group)
        )

    assert jobs() == 0
    assert res.collect() == [
        {"city": "Oslo", "n": 1, "oldest": 31.0},
        {"city": "Rome", "n": 1, "oldest": 52.0},
    ]
    assert jobs() > 0  # the tracker does see this call's jobs
    pkg = Path(__file__).resolve().parent.parent / "squirreling_spark"
    listing = [
        str(p) for p in pkg.rglob("*.py")
        if "catalog.listTables" in p.read_text()
    ]
    assert listing == []


def test_positional_join_drops_its_scratch_views(spark):
    from squirreling_spark.functions.sqldialect import session_temp_views

    before = set(session_temp_views(spark))
    res = execute_sql(
        spark,
        "SELECT a.x, b.y FROM a POSITIONAL JOIN b",
        tables={
            "a": [{"x": i} for i in range(3)],
            "b": [{"y": 10 * i} for i in range(4)],
        },
        pos_order={"a": ["x"], "b": ["y"]},
    )
    assert set(session_temp_views(spark)) == before | {"a", "b"}
    rows = sorted(res.collect(), key=lambda r: r["y"])
    assert rows == [
        {"x": 0, "y": 0}, {"x": 1, "y": 10}, {"x": 2, "y": 20},
        {"x": None, "y": 30},
    ]


# ---------------------------------------------------- structured error surface
# Reference error-message shapes (validation/parseErrors.js:105-178,
# validation/tables.js:166-211): did-you-mean suggestions, available-name
# lists — round-9 message-level upgrade.

def test_suggest_functions_prefix_and_distance():
    from squirreling_spark.functions.sqlstrict import suggest_functions

    s = suggest_functions("UPPERX")
    assert s and s[0] == "UPPER"  # distance 1 ranks first
    s = suggest_functions("JSON_VALU")
    assert s and s[0] == "JSON_VALUE"
    # shared-prefix candidates survive even past the distance cutoff
    s = suggest_functions("JSON_NONEXISTENT_THING")
    assert s and all(n.startswith("JSON_") for n in s)
    assert len(s) <= 4


def test_unknown_function_did_you_mean(spark):
    import pytest as _pytest

    from squirreling_spark.engine import UnknownFunctionError, execute_sql

    with _pytest.raises(UnknownFunctionError) as ei:
        execute_sql(
            spark, "SELECT UPPERX(name) FROM data",
            tables={"data": [{"id": 1, "name": "a"}]},
        ).collect()
    msg = str(ei.value)
    assert 'Unknown function "UPPERX"' in msg
    assert "Did you mean UPPER" in msg


def test_table_not_found_lists_available(spark):
    import pytest as _pytest

    from squirreling_spark.engine import TableNotFoundError, execute_sql

    with _pytest.raises(
        (TableNotFoundError, Exception)
    ) as ei:
        execute_sql(
            spark, "SELECT * FROM nope",
            tables={"users": [{"id": 1}], "orders": [{"id": 2}]},
            strict=True,
        ).collect()
    msg = str(ei.value)
    assert 'Table "nope" not found' in msg
    assert "Available tables: users, orders" in msg


def test_column_not_found_lists_available_in_fixture_order(spark):
    import pytest as _pytest

    from squirreling_spark.engine import ColumnNotFoundError, execute_sql

    with _pytest.raises(ColumnNotFoundError) as ei:
        execute_sql(
            spark, "SELECT nonexistent FROM users",
            tables={"users": [{"id": 1, "name": "a", "age": 30}]},
        ).collect()
    msg = str(ei.value)
    assert 'Column "nonexistent" not found' in msg
    assert "Available columns: id, name, age" in msg


def test_qualified_column_not_found_lists_its_table_only(spark):
    import pytest as _pytest

    from squirreling_spark.engine import ColumnNotFoundError, execute_sql

    with _pytest.raises(ColumnNotFoundError) as ei:
        execute_sql(
            spark,
            "SELECT users.bogus FROM users JOIN orders"
            " ON users.id = orders.uid",
            tables={
                "users": [{"id": 1, "name": "a"}],
                "orders": [{"id": 9, "uid": 1, "amount": 5}],
            },
        ).collect()
    msg = str(ei.value)
    # bare column name + only the qualified table's columns
    assert 'Column "bogus" not found' in msg
    assert "Available columns: id, name" in msg
    assert "amount" not in msg


_DOTTED_TABLES = {
    "t": [{"id": 1, "arr": [1, 2, 3]}, {"id": 2, "arr": [5]}],
    # a flat table-map name with a dot; v is a dynamic (mixed) column
    "dataset.parquet": [
        {"id": 1, "v": 10}, {"id": 2, "v": "5"}, {"id": 3, "v": 9},
    ],
}


@pytest.mark.parametrize(
    "query, ids",
    [
        (
            'SELECT id FROM "dataset.parquet" ORDER BY "dataset.parquet".v',
            [2, 3, 1],
        ),
        ("SELECT id FROM dataset.parquet ORDER BY v", [2, 3, 1]),
        (
            "SELECT d.id FROM t JOIN dataset.parquet d ON d.id = t.id"
            " ORDER BY d.id",
            [1, 2],
        ),
    ],
)
def test_dotted_table_name(spark, query, ids):
    rows = execute_sql(spark, query, tables=_DOTTED_TABLES).collect()
    assert [r["id"] for r in rows] == ids


@pytest.mark.parametrize(
    "query, expected",
    [
        # FROM in lower case
        ("select id from dataset.parquet", {"id": 1}),
        # string literals naming the table stay as written
        (
            "SELECT 'x, dataset.parquet y' AS s FROM \"dataset.parquet\"",
            {"s": "x, dataset.parquet y"},
        ),
        (
            "SELECT '\"dataset.parquet\"' AS s FROM dataset.parquet",
            {"s": '"dataset.parquet"'},
        ),
    ],
)
def test_dotted_table_name_is_quoted_not_renamed(spark, query, expected):
    tables = {"dataset.parquet": [{"id": 1, "a": 2}]}
    assert execute_sql(spark, query, tables=tables).collect() == [expected]


def test_collect_keeps_the_query_as_job_description(spark):
    res = execute_sql(spark, "SELECT id FROM jd", tables={"jd": [{"id": 1}]})
    res.collect()
    desc = spark.sparkContext.getLocalProperty("spark.job.description")
    assert desc == "SELECT id FROM jd"


def test_registered_query_describes_its_build_jobs(spark):
    """A registered query's build-time jobs carry its name as their
    description in the status store; the previous description comes
    back after the build."""
    from squirreling_spark import inventory

    name = "__described_build_probe"
    inventory.query(name)(lambda s, sf: s.range(s.range(5).count()))
    sc = spark.sparkContext
    group = "described-build-probe"
    sc.setJobGroup(group, "outer description")
    try:
        df = inventory.QUERIES[name](spark, "unused")
        assert sc.getLocalProperty("spark.job.description") == (
            "outer description"
        )
    finally:
        inventory.QUERIES.pop(name)
    assert df.count() == 5
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descriptions = {
        store.job(j).description().get()
        for j in sc.statusTracker().getJobIdsForGroup(group)
    }
    # the build's count, then the count of the result
    assert descriptions == {name, "outer description"}


# ------------------------------------------------ session execute_sql namespace

def _counting_local_df(monkeypatch):
    from squirreling_spark import engine

    calls = []

    def counted(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    real = engine.local_df
    monkeypatch.setattr(engine, "local_df", counted)
    return calls


def test_repeat_call_over_unchanged_list_builds_no_relation(
    spark, monkeypatch
):
    calls = _counting_local_df(monkeypatch)
    rows = [{"id": 1, "v": "a"}, {"id": 2, "v": None}]
    q = "SELECT id, v FROM ns_same ORDER BY id"
    first = execute_sql(spark, q, tables={"ns_same": rows}).collect()
    # an equal list built anew is the same table
    again = execute_sql(
        spark, q, tables={"ns_same": [dict(r) for r in rows]}
    ).collect()
    assert first == again == [{"id": 1, "v": "a"}, {"id": 2, "v": None}]
    assert len(calls) == 1


def test_list_changed_in_place_between_calls_is_read_again(
    spark, monkeypatch
):
    import math

    calls = _counting_local_df(monkeypatch)
    rows = [{"id": 1, "x": 0.0}, {"id": 2, "x": 1.5}]
    q = "SELECT id, x FROM ns_mut ORDER BY id"
    assert execute_sql(spark, q, tables={"ns_mut": rows}).collect() == rows
    rows[1]["x"] = 2.5
    rows.append({"id": 3, "x": None})
    got = execute_sql(spark, q, tables={"ns_mut": rows}).collect()
    assert got == [
        {"id": 1, "x": 0.0}, {"id": 2, "x": 2.5}, {"id": 3, "x": None}
    ]
    # equal under == but not the same value
    rows[0]["x"] = -0.0
    got = execute_sql(spark, q, tables={"ns_mut": rows}).collect()
    assert math.copysign(1.0, got[0]["x"]) == -1.0
    assert len(calls) == 3


def test_outside_view_between_calls_is_overwritten(spark):
    rows = [{"id": 1}, {"id": 2}]
    q = "SELECT count(*) AS n FROM ns_view"
    assert execute_sql(spark, q, tables={"ns_view": rows}).collect() == [
        {"n": 2}
    ]
    spark.range(7).createOrReplaceTempView("ns_view")
    assert execute_sql(spark, q, tables={"ns_view": rows}).collect() == [
        {"n": 2}
    ]


def test_new_session_gets_its_own_namespace(spark, monkeypatch):
    from squirreling_spark.engine import _namespace

    calls = _counting_local_df(monkeypatch)
    rows = [{"id": 1}, {"id": 2}, {"id": 3}]
    q = "SELECT sum(id) AS s FROM ns_sess"
    assert execute_sql(spark, q, tables={"ns_sess": rows}).collect() == [
        {"s": 6}
    ]
    other = spark.newSession()
    assert execute_sql(other, q, tables={"ns_sess": rows}).collect() == [
        {"s": 6}
    ]
    assert _namespace(other) is not _namespace(spark)
    assert _namespace(other)["ns_sess"].df.sparkSession is other
    assert len(calls) == 2


_POS_A = [{"k": i, "name": f"n{i}"} for i in range(5)]
_POS_B = [
    {"code": "C0", "value": 1},
    {"code": None, "value": "x"},
    {"code": "C2", "value": None},
]
# the reference zips the two arrays by index, padding the shorter
_POS_ROWS = [
    ("n0", "C0", "1"), ("n1", None, '"x"'), ("n2", "C2", None),
    ("n3", None, None), ("n4", None, None),
]


def _pos_rows(res):
    return sorted(
        ((r["name"], r["code"], r["value"]) for r in res.collect()),
        key=lambda t: t[0],
    )


@pytest.mark.parametrize("pos_order", [None, {"a": ["k"]}])
def test_positional_join_of_memory_tables_zips_list_order(spark, pos_order):
    """A memory table without a ``pos_order`` key is numbered by list
    index on the driver: the statement runs at most 3 jobs. Both sides'
    numberings give the rows the distributed one (``_with_rn``) gives
    DataFrames of the same rows."""
    from squirreling_spark.qutil import local_df

    q = "SELECT a.name, b.code, b.value FROM a POSITIONAL JOIN b"
    res = execute_sql(
        spark, q, tables={"a": _POS_A, "b": _POS_B}, pos_order=pos_order
    )
    assert _pos_rows(res) == _POS_ROWS
    if pos_order is None:
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(res.job_group)) <= 3
    frames = {
        "a": local_df(
            spark, [(r["k"], r["name"]) for r in _POS_A],
            "k bigint, name string",
        ),
        "b": local_df(
            spark, [(r["code"], None if r["value"] is None else
                     json.dumps(r["value"])) for r in _POS_B],
            "code string, value string",
        ),
    }
    with_rn = execute_sql(spark, q, tables=frames, pos_order=pos_order)
    assert _pos_rows(with_rn) == _POS_ROWS
