"""API façade tests (reference src/index.js surface: executeSql / parseSql /
planSql / extractTables, error shapes from src/validation/)."""

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
