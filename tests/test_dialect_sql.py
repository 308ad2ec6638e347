"""Reference-dialect SQL through the headline ``execute_sql`` façade
(functions/sqldialect.py). Query strings are drawn from the reference's own
test shapes: test/execute/positional.test.js, test/execute/execute.json.test.js
(JSON_EACH in FROM), src/parse/tokenize.js:49-57 (``123n`` literals),
src/expression/binary.js:57-66 (case-insensitive LIKE)."""

import json
import math

import pytest

from squirreling_spark.engine import execute_sql
from squirreling_spark.functions.sqldialect import (
    _scan,
    rewrite_reference_sql,
)

TABLE_A = [
    {"id": 1, "name": "Alice"},
    {"id": 2, "name": "Bob"},
    {"id": 3, "name": "Charlie"},
]
TABLE_B = [
    {"code": "A", "value": 100},
    {"code": "B", "value": 200},
    {"code": "C", "value": 300},
]


def _rows(res):
    return res.collect()


# ---------------------------------------------------------------------------
# POSITIONAL JOIN (reference test/execute/positional.test.js)
# ---------------------------------------------------------------------------


def test_positional_join_equal_lengths(spark):
    res = execute_sql(
        spark,
        "SELECT tableA.name, tableB.code FROM tableA POSITIONAL JOIN tableB",
        tables={"tableA": TABLE_A, "tableB": TABLE_B},
    )
    rows = sorted(_rows(res), key=lambda r: r["name"])
    assert rows == [
        {"name": "Alice", "code": "A"},
        {"name": "Bob", "code": "B"},
        {"name": "Charlie", "code": "C"},
    ]


def test_positional_join_right_shorter_pads_null(spark):
    res = execute_sql(
        spark,
        "SELECT tableA.name, tableB.code FROM tableA POSITIONAL JOIN tableB",
        tables={"tableA": TABLE_A, "tableB": TABLE_B[:1]},
    )
    rows = sorted(_rows(res), key=lambda r: r["name"])
    assert rows == [
        {"name": "Alice", "code": "A"},
        {"name": "Bob", "code": None},
        {"name": "Charlie", "code": None},
    ]


def test_positional_join_left_shorter_pads_null(spark):
    res = execute_sql(
        spark,
        "SELECT tableA.name, tableB.code FROM tableA POSITIONAL JOIN tableB",
        tables={"tableA": TABLE_A[:1], "tableB": TABLE_B},
    )
    rows = sorted(_rows(res), key=lambda r: (r["name"] is None, r["code"]))
    assert rows == [
        {"name": "Alice", "code": "A"},
        {"name": None, "code": "B"},
        {"name": None, "code": "C"},
    ]


def test_positional_join_select_star_hides_rn(spark):
    res = execute_sql(
        spark,
        "SELECT * FROM tableA POSITIONAL JOIN tableB",
        tables={"tableA": TABLE_A, "tableB": TABLE_B},
    )
    assert res.columns == ["id", "name", "code", "value"]
    assert len(_rows(res)) == 3


def test_positional_join_with_aliases(spark):
    res = execute_sql(
        spark,
        "SELECT a.name, b.code FROM tableA a POSITIONAL JOIN tableB AS b",
        tables={"tableA": TABLE_A, "tableB": TABLE_B},
    )
    assert len(_rows(res)) == 3


# ---------------------------------------------------------------------------
# JSON_EACH in FROM (reference test/execute/execute.json.test.js:621-770)
# ---------------------------------------------------------------------------


def test_json_each_object(spark):
    res = execute_sql(
        spark, "SELECT * FROM JSON_EACH('{\"a\":1,\"b\":2}')"
    )
    rows = sorted(_rows(res), key=lambda r: r["key"])
    assert rows == [
        {"key": "a", "value": "1"},
        {"key": "b", "value": "2"},
    ]


def test_json_each_array_integer_keys(spark):
    res = execute_sql(spark, "SELECT * FROM JSON_EACH('[10,20,30]')")
    rows = sorted(_rows(res), key=lambda r: r["key"])
    assert rows == [
        {"key": "0", "value": "10"},
        {"key": "1", "value": "20"},
        {"key": "2", "value": "30"},
    ]


def test_json_each_lateral_over_table(spark):
    data = [
        {"id": 1, "json": '{"x": "foo", "y": "bar"}'},
        {"id": 2, "json": '{"z": "baz"}'},
    ]
    res = execute_sql(
        spark,
        "SELECT data.id, j.key, j.value FROM data "
        "JOIN JSON_EACH(data.json) AS j ON TRUE",
        tables={"data": data},
    )
    rows = sorted(_rows(res), key=lambda r: (r["id"], r["key"]))
    assert rows == [
        {"id": 1, "key": "x", "value": "foo"},
        {"id": 1, "key": "y", "value": "bar"},
        {"id": 2, "key": "z", "value": "baz"},
    ]


def test_json_each_null_and_empty_yield_zero_rows(spark):
    assert _rows(execute_sql(spark, "SELECT * FROM JSON_EACH(NULL)")) == []
    assert _rows(execute_sql(spark, "SELECT * FROM JSON_EACH('{}')")) == []
    assert _rows(execute_sql(spark, "SELECT * FROM JSON_EACH('[]')")) == []


def test_json_each_column_aliases(spark):
    res = execute_sql(
        spark,
        "SELECT k, v FROM JSON_EACH('{\"a\":1,\"b\":2}') AS j(k, v)",
    )
    rows = sorted(_rows(res), key=lambda r: r["k"])
    assert rows == [{"k": "a", "v": "1"}, {"k": "b", "v": "2"}]


def test_json_each_where_filter_numeric(spark):
    res = execute_sql(
        spark,
        "SELECT key, value FROM JSON_EACH('[10,20,30,40]') WHERE value > 15",
    )
    assert sorted(r["value"] for r in _rows(res)) == ["20", "30", "40"]


def test_json_each_aggregate_with_cast(spark):
    res = execute_sql(
        spark,
        "SELECT SUM(CAST(value AS BIGINT)) AS total "
        "FROM JSON_EACH('[1,2,3,4]')",
    )
    assert _rows(res) == [{"total": 10}]


def test_json_each_nested_values_stay_json_text(spark):
    res = execute_sql(
        spark, "SELECT * FROM JSON_EACH('{\"a\":{\"x\":1},\"b\":[1,2]}')"
    )
    rows = {r["key"]: r["value"] for r in _rows(res)}
    assert rows["a"] == '{"x":1}'
    assert rows["b"] == "[1,2]"


# ---------------------------------------------------------------------------
# BigInt literals ``123n`` (reference src/parse/tokenize.js:49-57)
# ---------------------------------------------------------------------------


def test_bigint_literal_select_and_where(spark):
    res = execute_sql(
        spark,
        "SELECT 9007199254740993n AS big, id FROM t WHERE id < 3n",
        tables={"t": [{"id": 1}, {"id": 2}, {"id": 3}]},
    )
    rows = sorted(_rows(res), key=lambda r: r["id"])
    assert rows == [
        {"big": 9007199254740993, "id": 1},
        {"big": 9007199254740993, "id": 2},
    ]


def test_bigint_literal_not_rewritten_inside_strings(spark):
    res = execute_sql(spark, "SELECT '12n' AS s, 5n AS v")
    assert _rows(res) == [{"s": "12n", "v": 5}]


# ---------------------------------------------------------------------------
# Case-insensitive LIKE (reference src/expression/binary.js:57-66)
# ---------------------------------------------------------------------------


def test_like_ci_mode(spark):
    tables = {"w": [{"s": "Hello"}, {"s": "WORLD"}, {"s": "hollow"}]}
    ci = execute_sql(
        spark, "SELECT s FROM w WHERE s LIKE 'h%'", tables=tables,
        like_mode="ci",
    )
    assert sorted(r["s"] for r in _rows(ci)) == ["Hello", "hollow"]
    ansi = execute_sql(
        spark, "SELECT s FROM w WHERE s LIKE 'h%'", tables=tables
    )
    assert sorted(r["s"] for r in _rows(ansi)) == ["hollow"]


def test_like_ci_does_not_touch_literals(spark):
    q = rewrite_reference_sql("SELECT 'I LIKE cats' AS s", like_mode="ci")
    assert q == "SELECT 'I LIKE cats' AS s"


# ---------------------------------------------------------------------------
# Rewriter unit behavior
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text, pairs, depth",
    [
        # '' escapes stay inside the literal
        ("f('a''(', x)", [(1, 11)], "00" + "1" * 10 + "0"),
        # brackets inside "..." and `...` identifiers are quoted
        ('f("(", `]`)[0]', [(1, 10), (11, 13)], "00" + "1" * 9 + "0110"),
        ("[(a[1])]", [(0, 7), (1, 6), (3, 5)], "012233210"),
        # mismatched: ']' cannot close '('
        ("f(a]", [], "00111"),
        # unbalanced: a stray closer, an opener never closed
        ("x) + (y", [], "00000011"),
        ("[1, (2", [], "0111122"),
    ],
)
def test_scan_partners_and_depths(text, pairs, depth):
    s = _scan(text)
    want = [-1] * len(text)
    for a, b in pairs:
        want[a], want[b] = b, a
    assert list(s.partner) == want
    assert "".join(map(str, s.depth)) == depth
    if not pairs:
        # no partner: the rewrite leaves the text for Spark to report
        q = f"SELECT {text} FROM t"
        assert rewrite_reference_sql(q) == q


def test_concat_precedence_inside_subscript():
    # `||` binds below `+` inside a subscript too; the inserted group
    # closes before the subscript's `]`
    q = rewrite_reference_sql("SELECT a[b || c + 1] AS v FROM t")
    assert q == "SELECT a[b || (c + 1)] AS v FROM t"


def test_rewrite_noop_on_plain_sql(spark):
    q = "SELECT a, b FROM t WHERE a > 1 ORDER BY b"
    assert rewrite_reference_sql(q, spark=spark) == q


def test_rewrite_positional_inside_string_untouched(spark):
    q = "SELECT 'x POSITIONAL JOIN y' AS s"
    assert rewrite_reference_sql(q, spark=spark) == q


def test_positional_join_composes_with_where(spark):
    res = execute_sql(
        spark,
        "SELECT tableA.name, tableB.value FROM tableA POSITIONAL JOIN "
        "tableB WHERE tableB.value > 150",
        tables={"tableA": TABLE_A, "tableB": TABLE_B},
    )
    assert sorted(r["value"] for r in _rows(res)) == [200, 300]


# ---------------------------------------------------------------------------
# FROM-first queries + ANSI double-quoted identifiers
# (reference test/parse/parse.test.js:6, :267)
# ---------------------------------------------------------------------------


def test_from_first_query(spark):
    res = execute_sql(
        spark, "FROM tableA WHERE id > 1",
        tables={"tableA": TABLE_A},
    )
    assert res.columns == ["id", "name"]
    assert sorted(r["id"] for r in _rows(res)) == [2, 3]


def test_from_first_with_order_limit(spark):
    res = execute_sql(
        spark, "FROM tableB ORDER BY value DESC LIMIT 2",
        tables={"tableB": TABLE_B},
    )
    assert [r["value"] for r in _rows(res)] == [300, 200]


def test_from_first_not_triggered_mid_query(spark):
    q = "SELECT id FROM tableA"
    assert rewrite_reference_sql(q, spark=spark) == q


def test_double_quoted_identifiers_ansi_mode(spark):
    res = execute_sql(
        spark,
        'SELECT "col name" AS v FROM t WHERE "col name" > 1',
        tables={"t": [{"col name": 1}, {"col name": 5}]},
        ident_quotes="ansi",
    )
    assert _rows(res) == [{"v": 5}]


def test_double_quotes_stay_strings_by_default(spark):
    res = execute_sql(spark, 'SELECT "hello" AS s')
    assert _rows(res) == [{"s": "hello"}]


def test_extract_tables_handles_reference_dialect(spark):
    """extractTables must work on the same reference-syntax queries
    execute_sql accepts (reference src/index.js extractTables)."""
    from squirreling_spark.engine import extract_tables

    assert extract_tables(
        spark, "SELECT a.name FROM tblA a POSITIONAL JOIN tblB"
    ) == ["tblA", "tblB"]
    assert extract_tables(
        spark,
        "SELECT j.key FROM data JOIN JSON_EACH(data.json) AS j ON TRUE",
    ) == ["data"]
    assert extract_tables(spark, "FROM docs WHERE x > 1n") == ["docs"]
    import pytest

    with pytest.raises(ValueError, match="parse error"):
        extract_tables(spark, "NOT SQL AT ALL ;;;")


# ---------------------------------------------------------------------------
# Property tests: the rewriter must never touch string-literal content
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_LIT_CHARS = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="'\"`\\\x00"
    ),
    min_size=0,
    max_size=20,
)


@settings(max_examples=150, deadline=None)
@given(
    lit=_LIT_CHARS,
    num=st.integers(min_value=0, max_value=2**60),
    like_ci=st.booleans(),
)
def test_rewrite_preserves_string_literals(lit, num, like_ci):
    """Whatever a single-quoted literal contains — POSITIONAL JOIN,
    JSON_EACH(, 123n, LIKE — the rewriter must pass it through verbatim,
    while the SAME constructs outside the literal rewrite."""
    q = f"SELECT '{lit}' AS s, {num}n AS v FROM t WHERE a LIKE 'x%'"
    out = rewrite_reference_sql(
        q, like_mode="ci" if like_ci else "ansi"
    )
    assert f"'{lit}'" in out                       # literal untouched
    assert f"CAST({num} AS BIGINT)" in out         # literal outside rewritten
    if like_ci:
        assert "ILIKE 'x%'" in out
    else:
        assert "LIKE 'x%'" in out


@settings(max_examples=100, deadline=None)
@given(lit=_LIT_CHARS)
def test_rewrite_noop_without_dialect_constructs(lit):
    """A plain-Spark query (no reference-only syntax outside strings)
    must come back byte-identical, whatever its literals contain."""
    q = f"SELECT col, '{lit}' AS s FROM tbl WHERE col > 5 ORDER BY col"
    assert rewrite_reference_sql(q) == q


# ---------------------------------------------------------------------------
# Round-5 session-2 rewrites: direct unit pins (the conformance floors in
# test_ref_conformance.py cover these end-to-end; these are the fast
# regression signal)
# ---------------------------------------------------------------------------


def test_array_literals_and_subscripts(spark):
    res = execute_sql(
        spark, "SELECT [1, 2, 3] AS arr, [10, 20, 30][2] AS third"
    )
    rows = _rows(res)
    assert rows == [{"arr": [1, 2, 3], "third": 30}]  # 0-based like JS
    # evaluate.js:574-618: a position is 1-based and NULL when the value
    # is absent; ARRAY_CONCAT/LIST_CONCAT join exactly two arrays
    rows = _rows(
        execute_sql(
            spark,
            "SELECT ARRAY_POSITION(arr, 5) AS p, LIST_POSITION(arr, 2) AS lp,"
            " ARRAY_CONCAT(arr, [4]) AS c, LIST_CONCAT([0], arr) AS lc"
            " FROM data",
            tables={"data": [{"arr": [1, 2, 3]}]},
        )
    )
    assert rows == [
        {"p": None, "lp": 2, "c": [1, 2, 3, 4], "lc": [0, 1, 2, 3]}
    ]


def test_unnest_from_and_lateral(spark):
    rows = _rows(
        execute_sql(spark, "SELECT * FROM UNNEST([1, 2, 3]) AS t")
    )
    assert rows == [{"unnest": 1}, {"unnest": 2}, {"unnest": 3}]
    t = [{"id": 1, "arr": [10, 20]}, {"id": 2, "arr": [30]}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT t.id, u.x FROM t JOIN UNNEST(t.arr) AS u(x) ON TRUE",
            tables={"t": t},
        )
    )
    assert sorted((r["id"], r["x"]) for r in rows) == [
        (1, 10), (1, 20), (2, 30)
    ]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT t.id, u.x FROM t LEFT JOIN UNNEST(t.arr) AS u(x)"
            " ON TRUE",
            tables={"t": t + [{"id": 3, "arr": []}]},
        )
    )
    assert (3, None) in [(r["id"], r["x"]) for r in rows]


def test_derived_column_names(spark):
    users = [{"id": 1, "name": "A", "age": 30}]
    res = execute_sql(
        spark,
        "SELECT COUNT(*), UPPER(name), age + 1, CAST(age AS INT) FROM"
        " users GROUP BY name, age",
        tables={"users": users},
    )
    assert res.columns == ["count_all", "upper_name", "age_+_1", "age_as_int"]
    # the names are derived before any rewrite, from the statement text
    # alone: no session is needed (None: the item stays unaliased)
    for item, name in DERIVED_NAMES.items():
        out = rewrite_reference_sql(f"SELECT {item} FROM t")
        at = out.find(" AS `")
        got = out[at + 5 : out.rindex("`")] if at >= 0 else None
        assert got == name, (item, out)


DERIVED_NAMES = {
    "t.a.b": "b",
    "arr[0].f": "f",
    "arr['k']": "k",
    "x[1][2]": "x[1][2]",
    "-x": "-_x",
    "NOT y": "NOT_y",
    "NOT(y)": "NOT_y",
    "a AND b": "a_AND_b",
    "a || b": "a_||_b",
    "(a+b)*c": "a_+_b_*_c",
    "f(g(x), 'lit')": "f_g_x_lit",
    "f (x)": "f_x",
    "count(DISTINCT a)": "count_a",
    "f(*)": "f_all",
    "ROW_NUMBER() OVER (PARTITION BY a ORDER BY (b))": "row_number",
    "lag(x) OVER (ORDER BY y) + 1": "lag_+_1",
    "`weird col` + 1": "weird col_+_1",
    "1.5e3": "1.5e3",
    "1[0]": "1[0]",
    "CASE WHEN a THEN 1 ELSE 2 END": None,
    "CAST(x AS DECIMAL(10,2))": None,
    "x IS NULL": None,
    "a BETWEEN 1 AND 2": None,
    "first_value(x) IGNORE NULLS OVER (ORDER BY y)": None,
    "count(*) FILTER (WHERE x > 0)": None,
}


def test_month_interval_operand_is_the_value_before_the_sign(spark):
    # a call (nested ones too), a subscript-and-field chain and a
    # windowed call are whole operands of ``± INTERVAL n MONTH|YEAR``
    rows = _rows(
        execute_sql(
            spark,
            "SELECT id, coalesce(d, '2024-01-31') + INTERVAL 1 MONTH AS m,"
            " coalesce(d, concat('2024-01-', '31')) + INTERVAL 1 MONTH"
            " AS n, arr[0].d + INTERVAL 2 YEAR AS y, FIRST_VALUE(d) OVER"
            " (ORDER BY id) - INTERVAL 1 MONTH AS w FROM t",
            tables={"t": [
                {"id": 1, "d": "2024-01-15", "arr": [{"d": "2024-01-15"}]}
            ]},
        )
    )
    assert [tuple(str(r[c]) for c in "mnyw") for r in rows] == [
        ("2024-02-15", "2024-02-15", "2026-01-15", "2023-12-15")
    ]


def test_month_interval_case_operand(spark):
    # CASE … END is one operand, not the keyword END
    rows = _rows(
        execute_sql(
            spark,
            "SELECT CASE WHEN a THEN d END + INTERVAL 1 MONTH AS m FROM t",
            tables={"t": [
                {"a": True, "d": "2024-01-15"},
                {"a": False, "d": "2024-01-15"},
            ]},
        )
    )
    assert sorted(str(r["m"]) for r in rows) == ["2024-02-15", "None"]


def test_date_dialect_semantics(spark):
    data = [{"a": "2023-12-31", "b": "2024-01-01"}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT DATE_DIFF('year', a, b) AS y, DATE_DIFF('day', a, b)"
            " AS d FROM data",
            tables={"data": data},
        )
    )
    assert rows == [{"y": 1, "d": 1}]  # boundary crossing, not full year
    ev = [{"ts": "2024-07-15T14:30:45"}]  # a Monday
    rows = _rows(
        execute_sql(
            spark,
            "SELECT EXTRACT(DOW FROM ts) AS dow, EXTRACT(SECOND FROM ts)"
            " AS s FROM events",
            tables={"events": ev},
        )
    )
    assert rows == [{"dow": 1, "s": 45}]  # JS getUTCDay; integer seconds
    rows = _rows(
        execute_sql(
            spark,
            "SELECT DATE_PART('dow', ts) AS dow, DATE_PART('epoch', ts) AS e,"
            " DATE_PART('second', ts) AS s FROM events",
            tables={"events": ev},
        )
    )
    # date.js: DATE_PART shares EXTRACT's fields; epoch is getTime()/1000
    assert rows == [{"dow": 1, "e": 1721053845.0, "s": 45}]


def test_date_diff_after_unrewritable_call(spark):
    # Spark's own 2-arg DATEDIFF is left alone; the reference-dialect
    # DATE_DIFF after it is still rewritten
    rows = _rows(
        execute_sql(
            spark,
            "SELECT DATEDIFF(d2, d1) AS a, DATE_DIFF('day', d1, d2) AS b"
            " FROM t",
            tables={"t": [{"d1": "2024-01-01", "d2": "2024-01-05"}]},
        )
    )
    assert rows == [{"a": 4, "b": 4}]


def test_math_dialect_js_semantics(spark):
    # JS Math.atan2 for 2-arg ATAN; Math.log family: a negative input is
    # NaN and zero is -Infinity (Spark returns NULL for both)
    rows = _rows(
        execute_sql(
            spark,
            "SELECT x, ATAN(x, 1) AS a, LN(x) AS ln, LOG10(x) AS l10,"
            " LOG2(x) AS l2 FROM nums ORDER BY x",
            tables={"nums": [{"x": 8}, {"x": -1}, {"x": 0}]},
        )
    )
    assert [r["x"] for r in rows] == [-1, 0, 8]
    assert [r["a"] for r in rows] == pytest.approx(
        [math.atan2(-1, 1), 0.0, math.atan2(8, 1)]
    )
    for col in ("ln", "l10", "l2"):
        assert math.isnan(rows[0][col])
        assert rows[1][col] == -math.inf
    assert rows[2]["ln"] == pytest.approx(math.log(8))
    assert rows[2]["l10"] == pytest.approx(math.log10(8))
    assert rows[2]["l2"] == pytest.approx(3.0)


def test_loose_group_by_retry(spark):
    users = [
        {"id": 1, "name": "A", "city": "X"},
        {"id": 2, "name": "B", "city": "X"},
    ]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT city, name, COUNT(*) AS n FROM users GROUP BY city",
            tables={"users": users},
        )
    )
    assert rows[0]["n"] == 2 and rows[0]["name"] in ("A", "B")


def test_memory_table_void_columns(spark):
    data = [{"a": 10, "b": None}, {"a": 3, "b": None}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT a + b AS s, concat(b, 'x') AS c FROM data",
            tables={"data": data},
        )
    )
    assert all(r["s"] is None and r["c"] is None for r in rows)


# ---------------------------------------------------------------------------
# Alias-chaining retries (execute.group / execute.orderby shapes Spark
# rejects natively; engine retries with sqldialect.inline_select_aliases)
# ---------------------------------------------------------------------------


def test_chained_alias_retry_keeps_rewritten_aggregates(spark):
    # the retry reads rewritten text: array_agg is collect_list there,
    # and an aggregate is never wrapped in any_value
    users = [
        {"id": 1, "name": "A", "age": 30, "city": "X"},
        {"id": 2, "name": "B", "age": 30, "city": "X"},
        {"id": 3, "name": "C", "age": 30, "city": "Y"},
        {"id": 4, "name": "D", "age": 40, "city": "Y"},
        {"id": 5, "name": "E", "age": 40, "city": "Y"},
        {"id": 6, "name": "F", "age": 50, "city": "Z"},
    ]

    def by_b(agg):
        rows = execute_sql(
            spark,
            f"SELECT age AS a, a + 1 AS b, {agg} AS v FROM users GROUP BY b",
            tables={"users": users},
        ).collect()
        return {r["b"]: r["v"] for r in rows}

    names = by_b("array_agg(name)")
    assert {b: sorted(v) for b, v in names.items()} == {
        31: ["A", "B", "C"], 41: ["D", "E"], 51: ["F"],
    }
    assert by_b("mode(city)") == {31: "X", 41: "Y", 51: "Z"}
    names = by_b("json_group_array(name)")
    assert {b: sorted(json.loads(v)) for b, v in names.items()} == {
        31: ["A", "B", "C"], 41: ["D", "E"], 51: ["F"],
    }


def test_group_by_chained_alias_retry(spark):
    data = [{"x": 1}, {"x": 1}, {"x": 2}]
    rows = sorted(
        _rows(
            execute_sql(
                spark,
                "SELECT x AS a, a + 1 AS b, COUNT(*) AS count FROM data "
                "GROUP BY b ORDER BY b",
                tables={"data": data},
            )
        ),
        key=lambda r: r["b"],
    )
    assert rows == [
        {"a": 1, "b": 2, "count": 2},
        {"a": 2, "b": 3, "count": 1},
    ]


def test_order_by_aggregate_of_alias_retry(spark):
    users = [{"age": 30}, {"age": 35}, {"age": 30}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT age AS a, COUNT(*) AS count FROM users GROUP BY a "
            "ORDER BY SUM(a)",
            tables={"users": users},
        )
    )
    assert [r["a"] for r in rows] == [35, 30]  # sums 35 < 60


def test_loose_group_by_star_expansion(spark):
    data = [{"id": 1, "age": 20, "city": "X"}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT * FROM data WHERE age > 100 GROUP BY city",
            tables={"data": data},
        )
    )
    assert rows == []  # empty groups, reference returns zero rows
    rows = _rows(
        execute_sql(
            spark,
            "SELECT * FROM data GROUP BY city",
            tables={"data": data},
        )
    )
    assert rows == [{"id": 1, "age": 20, "city": "X"}]


# ---------------------------------------------------------------------------
# Dtype-directed dynamic-typing rewrites (_rewrite_dynamic_typing): the
# reference evaluates per row (evaluate.js:574-633); with a statically
# typed column the whole-column outcome is decidable at rewrite time.
# ---------------------------------------------------------------------------


def test_dynamic_typing_array_fn_on_scalar_is_null(spark):
    data = [{"n": 5, "arr": [1, 2]}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT ARRAY_CONTAINS(n, 1) AS c, ARRAY_LENGTH(n) AS l "
            "FROM data",
            tables={"data": data},
        )
    )
    assert rows == [{"c": None, "l": None}]


def test_dynamic_typing_len_dispatches_arrays_to_size(spark):
    # reference LEN is array-only (evaluate.js:574-576): arrays get their
    # length, any non-array input is NULL — including strings.
    data = [{"arr": [1, 2, 3], "s": "ab"}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT LEN(arr) AS la, LEN(s) AS ls FROM data",
            tables={"data": data},
        )
    )
    assert rows == [{"la": 3, "ls": None}]


def test_dynamic_typing_array_length_beyond_depth_is_null(spark):
    data = [{"arr": [1, 2, 3]}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT ARRAY_LENGTH(arr, 2) AS l2, ARRAY_LENGTH(arr, 1) AS l1 "
            "FROM data",
            tables={"data": data},
        )
    )
    assert rows == [{"l2": None, "l1": 3}]


def test_correlated_unnest_count_decorrelates(spark):
    # reference execute.subquery.test.js:567 — a correlated UNNEST below a
    # scalar subquery's FROM is two correlation levels deep (Spark reaches
    # one); COUNT(*) over an unconditioned cross product factorizes to
    # |rest| * size(arr) and hoists out (sqldialect.
    # _rewrite_correlated_unnest_count)
    outers = [{"id": 1, "arr": [10, 20]}, {"id": 2, "arr": [30]},
              {"id": 3, "arr": []}]
    t = [{"k": 1}, {"k": 2}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT o.id, (SELECT COUNT(*) FROM t JOIN UNNEST(o.arr) "
            "AS u(x) ON TRUE) AS n FROM outers AS o ORDER BY o.id",
            tables={"outers": outers, "t": t},
        )
    )
    assert rows == [{"id": 1, "n": 4}, {"id": 2, "n": 2}, {"id": 3, "n": 0}]


def test_correlated_unnest_count_guards(spark):
    # a LOCAL unnest (qualifier resolves inside the subquery) must not be
    # hoisted — the factorization only applies to correlated refs
    outers = [{"id": 1, "arr": [10, 20]}, {"id": 2, "arr": [30]}]
    t = [{"k": 1}, {"k": 2}]
    rows = _rows(
        execute_sql(
            spark,
            "SELECT (SELECT COUNT(*) FROM outers o2 JOIN UNNEST(o2.arr) "
            "AS u(x) ON TRUE) AS n FROM t",
            tables={"outers": outers, "t": t},
        )
    )
    assert rows == [{"n": 3}, {"n": 3}]


# ---------------------------------------------------------------------------
# FROM-clause table functions in FROM, JOIN and comma positions
# (sqldialect._from_items; reference src/parse/joins.js)
# ---------------------------------------------------------------------------

_FROM_TABLES = {
    "t": [{"id": 1, "arr": [1, 2, 3]}, {"id": 2, "arr": [5]}],
    "s": [{"id": 1, "items": [{"name": "a", "n": 1}, {"name": "b", "n": 2}]}],
}
_T_BY_ELEMENT = [(1, 1), (1, 2), (1, 3), (2, 5)]


def _sorted_tuples(spark, query):
    rows = execute_sql(spark, query, tables=_FROM_TABLES).collect()
    return sorted(tuple(r.values()) for r in rows)


@pytest.mark.parametrize(
    "query, expected",
    [
        ("SELECT explode FROM EXPLODE([3, 4])", [(3,), (4,)]),
        ("SELECT * FROM UNNEST(NULL) AS u", []),
        (
            "SELECT t.id, u.x FROM t LEFT JOIN UNNEST(t.arr) AS u(x) ON TRUE",
            _T_BY_ELEMENT,
        ),
        (
            "SELECT t.id, u.x FROM t CROSS JOIN UNNEST(t.arr) AS u(x)",
            _T_BY_ELEMENT,
        ),
        (
            "SELECT t.id, u.x FROM t JOIN LATERAL UNNEST(t.arr) AS u(x)"
            " ON TRUE",
            _T_BY_ELEMENT,
        ),
        ("SELECT u.name FROM s, UNNEST(s.items) AS u", [("a",), ("b",)]),
        (
            "SELECT it.name FROM s JOIN UNNEST(s.items) AS it ON TRUE",
            [("a",), ("b",)],
        ),
        (
            "SELECT id, (SELECT COUNT(*) FROM t JOIN UNNEST(o.arr) AS u(x)"
            " ON TRUE) AS c FROM t o ORDER BY id",
            [(1, 6), (2, 2)],
        ),
    ],
)
def test_table_function_from_items(spark, query, expected):
    assert _sorted_tuples(spark, query) == expected


@pytest.mark.parametrize(
    "query, expected",
    [
        # a keyword inside a string literal is not the statement's WHERE
        (
            "SELECT 'WHERE' AS w, id, x FROM t JOIN UNNEST(t.arr) AS u(x)"
            " ON x > 1 WHERE id = 1",
            [("WHERE", 1, 2), ("WHERE", 1, 3)],
        ),
        # ... and does not end the ON predicate
        (
            "SELECT id, x FROM t JOIN UNNEST(t.arr) AS u(x)"
            " ON x > 1 AND 'LIMIT' <> '' WHERE id = 1",
            [(1, 2), (1, 3)],
        ),
        # a derived table's WHERE is not the outer statement's
        (
            "SELECT s.id, x FROM (SELECT * FROM t WHERE id > 0) s"
            " JOIN UNNEST(s.arr) AS u(x) ON x > 1",
            [(1, 2), (1, 3), (2, 5)],
        ),
    ],
)
def test_join_unnest_on_predicate_folds_into_its_where(spark, query, expected):
    assert _sorted_tuples(spark, query) == expected


def test_json_each_alias_followed_by_a_clause(spark):
    # the alias keeps its distance from the WHERE after it
    rows = execute_sql(
        spark,
        "SELECT key, value FROM JSON_EACH('{\"a\": 1, \"b\": 2}') AS j"
        " WHERE key = 'a'",
    ).collect()
    assert rows == [{"key": "a", "value": "1"}]


# ---------------------------------------------------------------------------
# SELECT statements: each clause is read from its own statement
# (sqldialect._selects; reference src/parse/parse.js)
# ---------------------------------------------------------------------------

_STMT_TABLES = {
    "t": [
        {"id": 1, "name": "a", "d": "2020-05-01", "arr": [1, 2, 3]},
        {"id": 1, "name": "b", "d": "2021-05-01", "arr": [5]},
        {"id": 2, "name": "c", "d": "2021-06-01", "arr": [7]},
    ],
    "kv": [
        {"k": 1, "v": 5}, {"k": 1, "v": 7}, {"k": 2, "v": 3}, {"k": 3, "v": 9},
    ],
    "data": [{"x": 1}, {"x": 1}, {"x": 2}],
}


@pytest.mark.parametrize(
    "query, expected",
    [
        # only the first branch names the columns
        (
            "SELECT id + 1 FROM t UNION ALL SELECT id + 2 FROM t",
            [{"id_+_1": v} for v in (2, 2, 3, 3, 3, 4)],
        ),
        (
            "SELECT * FROM (SELECT DISTINCT ON (k) k, v FROM kv"
            " ORDER BY k, v DESC) s ORDER BY k",
            [{"k": 1, "v": 7}, {"k": 2, "v": 3}, {"k": 3, "v": 9}],
        ),
    ],
)
def test_select_statement_shapes(spark, query, expected):
    rows = execute_sql(spark, query, tables=_STMT_TABLES).collect()
    assert sorted(rows, key=lambda r: tuple(r.values())) == expected


def test_loose_group_by_retry_with_limit(spark):
    rows = execute_sql(
        spark,
        "SELECT id, name, COUNT(*) AS n FROM t GROUP BY id ORDER BY id"
        " LIMIT 1",
        tables=_STMT_TABLES,
    ).collect()
    assert [(r["id"], r["n"]) for r in rows] == [(1, 2)]
    assert rows[0]["name"] in ("a", "b")


@pytest.mark.parametrize(
    "query, expected",
    [
        # the loose GROUP BY retry reads the outer statement, not the CTE
        (
            "WITH c AS (SELECT id, name FROM t) SELECT name, id FROM c"
            " GROUP BY id ORDER BY id",
            [{"id": 1}, {"id": 2}],
        ),
        # EXTRACT's FROM does not end the select list
        (
            "SELECT EXTRACT(YEAR FROM d) AS y, name FROM t GROUP BY y"
            " ORDER BY y",
            [{"y": 2020}, {"y": 2021}],
        ),
        # the alias-inlining retry: outer statement after a CTE, a FROM
        # inside a literal, a subquery's GROUP BY in the WHERE
        (
            "WITH c AS (SELECT id FROM t) SELECT id * 2 AS a, a + 1 AS b"
            " FROM c GROUP BY b ORDER BY b",
            [{"a": 2, "b": 3}, {"a": 4, "b": 5}],
        ),
        (
            "SELECT 'x from' AS s, id * 2 AS a, a + 1 AS b FROM t"
            " GROUP BY s, b ORDER BY b",
            [
                {"s": "x from", "a": 2, "b": 3},
                {"s": "x from", "a": 4, "b": 5},
            ],
        ),
        (
            "SELECT x AS a, a + 1 AS b FROM data WHERE x IN"
            " (SELECT x FROM data GROUP BY x) GROUP BY b ORDER BY b",
            [{"a": 1, "b": 2}, {"a": 2, "b": 3}],
        ),
        # derived names for the outer statement's items, not the CTE's
        (
            "WITH c AS (SELECT id FROM t) SELECT id + 1 FROM c ORDER BY 1",
            [{"id_+_1": 2}, {"id_+_1": 2}, {"id_+_1": 3}],
        ),
        # OFFSET stays on the outer query, out of the window's ORDER BY
        (
            "SELECT DISTINCT ON (k) k, v FROM kv ORDER BY k, v DESC OFFSET 1",
            [{"k": 2, "v": 3}, {"k": 3, "v": 9}],
        ),
        # each branch of a set operation is its own DISTINCT ON statement
        (
            "SELECT DISTINCT ON (k) k FROM kv UNION ALL"
            " SELECT DISTINCT ON (v) v FROM kv ORDER BY 1",
            [{"k": k} for k in (1, 2, 3, 3, 5, 7, 9)],
        ),
    ],
)
def test_clauses_are_read_from_their_own_statement(spark, query, expected):
    rows = execute_sql(spark, query, tables=_STMT_TABLES).collect()
    assert len(rows) == len(expected)
    assert [{k: r[k] for k in e} for r, e in zip(rows, expected)] == expected


def test_positional_join_star_in_a_derived_table(spark):
    res = execute_sql(
        spark,
        "SELECT s.* FROM (SELECT * FROM tableA POSITIONAL JOIN tableB) s",
        tables={"tableA": TABLE_A, "tableB": TABLE_B},
    )
    assert res.columns == ["id", "name", "code", "value"]
