"""Strict-mode validation (functions/sqlstrict.py): the reference's
REJECTION surface, opt-in via ``execute_sql(..., strict=True)``.

Behavioral spec: reference src/validation/functions.js (arity table +
validateFunctionArgs), src/parse/primary.js:136-142 (cast targets),
src/parse/joins.js (join shapes), src/expression/strings.js (runtime
value guards). Each static rule is unit-pinned here; the end-to-end
error cases are additionally replayed by the conformance harness
(execute.errors.test.js floor in tests/test_ref_conformance.py)."""
import pytest

from squirreling_spark.engine import execute_sql
from squirreling_spark.functions.sqlstrict import (
    StrictDialectError,
    strict_guards,
    validate_reference_sql,
)


def _rejects(q, tables=None):
    with pytest.raises(StrictDialectError):
        validate_reference_sql(q, tables=tables)


def _accepts(q, tables=None):
    validate_reference_sql(q, tables=tables)


# --- arity (reference FUNCTION_SIGNATURES) ---------------------------------

@pytest.mark.parametrize(
    "q",
    [
        "SELECT TRIM(name, age) FROM users",
        "SELECT REPLACE(name, 'a') FROM users",
        "SELECT CONCAT() FROM users",
        "SELECT RANDOM(1) FROM users",
        "SELECT STRING_AGG(name) FROM users",
        "SELECT DATE_DIFF('day', a) AS d FROM events",
        "SELECT FLOOR(value, 2) FROM data",
        "SELECT CEIL(value, 2) FROM data",
        "SELECT LAG() OVER (ORDER BY id) FROM sales",
    ],
)
def test_arity_rejections(q):
    _rejects(q)


def test_arity_standard_forms_accepted():
    _accepts("SELECT TRIM(BOTH 'x' FROM name) FROM users")
    _accepts("SELECT POSITION('a' IN name) FROM users")
    _accepts("SELECT SUBSTRING(name FROM 2 FOR 3) FROM users")
    # ordered-set percentile: the ORDER BY expression is the 2nd arg
    _accepts(
        "SELECT PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v) FROM data"
    )


def test_udf_names_exempt_from_arity():
    with pytest.raises(StrictDialectError):
        validate_reference_sql("SELECT TRIM(a, b, c) FROM t")
    validate_reference_sql(
        "SELECT TRIM(a, b, c) FROM t", functions={"trim": object()}
    )


# --- literal argument values ------------------------------------------------

@pytest.mark.parametrize(
    "q",
    [
        "SELECT SUBSTRING(name, 0, 3) FROM users",
        "SELECT SUBSTRING(name, 1, -1) FROM users",
        "SELECT LEFT(text, -1) FROM data",
        "SELECT RIGHT(text, -1) FROM data",
        "SELECT REGEXP_SUBSTR(text, '[a-z]+', 0) FROM data",
        "SELECT * FROM JSON_EACH('not valid json')",
        "SELECT * FROM JSON_EACH('42')",
    ],
)
def test_literal_value_rejections(q):
    _rejects(q)


def test_valid_literals_accepted():
    _accepts("SELECT SUBSTRING(name, 1, 3) FROM users")
    _accepts("SELECT * FROM JSON_EACH('[1, 2]')")
    _accepts("SELECT * FROM JSON_EACH('{\"a\": 1}')")


# --- cast targets / intervals ------------------------------------------------

def test_cast_target_allowlist():
    _rejects("SELECT CAST(age AS BINARY) FROM users")
    _accepts("SELECT CAST(age AS STRING) FROM users")


def test_interval_rules():
    _rejects("SELECT INTERVAL 1 DAY FROM users")  # standalone
    _rejects("SELECT CURRENT_DATE + INTERVAL 1 FORTNIGHT FROM users")
    _accepts("SELECT CURRENT_DATE + INTERVAL 1 DAY FROM users")
    _accepts("SELECT CURRENT_DATE - INTERVAL 3 MONTHS FROM users")


# --- query shapes -------------------------------------------------------------

def test_order_by_positional_star():
    _rejects("SELECT * FROM users ORDER BY 1")


def test_comma_and_cross_join_need_table_function():
    _rejects("SELECT * FROM t, labels", tables={"t": [], "labels": []})
    _rejects(
        "SELECT * FROM t CROSS JOIN labels",
        tables={"t": [], "labels": []},
    )
    _accepts("SELECT * FROM t, UNNEST(t.arr) AS u", tables={"t": []})
    _accepts(
        "SELECT * FROM t CROSS JOIN UNNEST(t.arr) AS u", tables={"t": []}
    )


def test_lateral_shapes():
    _rejects("SELECT id FROM t LATERAL EXPLODE(tags) e AS tag")
    _rejects("SELECT id FROM t LATERAL VIEW EXPLODE(tags) AS tag")
    _rejects("SELECT id FROM t LATERAL VIEW EXPLODE(tags) e")
    _accepts("SELECT id, tag FROM t LATERAL VIEW EXPLODE(tags) e AS tag")
    _accepts("SELECT id, tag FROM t LATERAL VIEW OUTER EXPLODE(tags) e AS tag")
    # explicit-LATERAL join form is ACCEPTED (execute.unnest.test.js)
    _accepts("SELECT t.id, u.x FROM t JOIN LATERAL UNNEST(t.arr) AS u(x) ON TRUE")


@pytest.mark.parametrize(
    "tail, message",
    [
        ("EXPLODE(tags) AS tag", "LATERAL VIEW requires a table alias before AS"),
        ("EXPLODE(tags) e", 'Expected AS after "e"'),
    ],
)
def test_lateral_view_outer_alias_shapes(tail, message):
    # OUTER is a modifier, not the function: the alias rules still apply
    for view in ("LATERAL VIEW", "LATERAL VIEW OUTER"):
        with pytest.raises(StrictDialectError, match=message):
            validate_reference_sql(f"SELECT id FROM t {view} {tail}")


def test_table_function_position():
    _rejects("SELECT EXPLODE([1, 2, 3])")
    _accepts("SELECT * FROM UNNEST([1, 2, 3]) AS u")


def test_unnest_alias_is_not_a_column():
    _rejects("SELECT tc_item FROM t CROSS JOIN UNNEST(t.arr) AS tc_item")


def test_visible_tables_skips_spaced_table_function():
    """'FROM UNNEST (x)' — whitespace before the call paren — is a table
    function, not a table, so it must not appear in TableNotFound
    'Available tables' lists (r9 advice)."""
    from squirreling_spark.functions.sqlstrict import _visible_tables

    vis = _visible_tables(
        "SELECT * FROM UNNEST ([1, 2]) AS u", {"users": []}
    )
    assert "UNNEST" not in vis
    assert vis == ["users"]  # falls back to the table map


def test_window_groupby_exclusion():
    _rejects(
        "SELECT region, ROW_NUMBER() OVER (ORDER BY region) AS rn "
        "FROM sales GROUP BY region"
    )
    # window INSIDE a subquery combined with outer GROUP BY is fine
    _accepts(
        "SELECT region, COUNT(*) FROM (SELECT region, ROW_NUMBER() "
        "OVER (ORDER BY region) AS rn FROM sales) GROUP BY region"
    )


def test_setop_name_agreement():
    _rejects(
        "SELECT id AS a FROM users WHERE id = 1 "
        "UNION SELECT id AS b FROM users WHERE id = 2"
    )
    _accepts(
        "SELECT id AS a FROM users WHERE id = 1 "
        "UNION SELECT age AS a FROM users WHERE id = 2"
    )


@pytest.mark.parametrize(
    "q",
    [
        "(SELECT id AS a FROM users) UNION (SELECT id AS b FROM users)",
        "SELECT id AS a FROM users UNION SELECT age AS b FROM users"
        " UNION SELECT id AS a FROM users",
        "SELECT id, * FROM users ORDER BY 2",
    ],
)
def test_statement_shape_rejections(q):
    _rejects(q)


def test_order_by_position_of_a_column_after_star():
    _accepts("SELECT *, id FROM users ORDER BY 2")


def test_window_call_in_where_after_a_subquery():
    with pytest.raises(StrictDialectError, match="ROW_NUMBER is not allowed"):
        validate_reference_sql(
            "SELECT id FROM users WHERE id IN (SELECT id FROM t WHERE x = 1)"
            " AND ROW_NUMBER() OVER (ORDER BY id) = 1"
        )


_T = {"t": [
    {"id": 1, "name": "a", "d": "2020-05-01", "arr": [1, 2, 3]},
    {"id": 1, "name": "b", "d": "2021-05-01", "arr": [5]},
    {"id": 2, "name": "c", "d": "2021-06-01", "arr": [7]},
]}


@pytest.mark.parametrize(
    "q, expected",
    [
        # a subquery's ORDER BY is checked against its own select list
        (
            "SELECT * FROM (SELECT id FROM t ORDER BY 1 LIMIT 2) s",
            [{"id": 1}, {"id": 1}],
        ),
        # set-operation names come from the branches, not from the CTE
        (
            "WITH c AS (SELECT id AS x FROM t) SELECT x AS y FROM c"
            " UNION SELECT id AS y FROM t",
            [{"y": 1}, {"y": 2}],
        ),
    ],
)
def test_strict_reads_each_statement(spark, q, expected):
    rows = execute_sql(spark, q, tables=_T, strict=True).collect()
    assert sorted(rows, key=lambda r: tuple(r.values())) == expected


def test_unnest_alias_after_a_from_in_a_literal(spark):
    with pytest.raises(
        StrictDialectError,
        match='Column "u" not found. Available columns: t.id, t.name, t.d,'
        " t.arr, u.unnest",
    ):
        execute_sql(
            spark, "SELECT 'a from b' AS f, u FROM t, UNNEST(t.arr) AS u",
            tables=_T, strict=True,
        )


def test_lateral_view_alias_after_a_nested_call(spark):
    # the view alias follows the call's own closing bracket, not the
    # first `)` inside its arguments
    q = "SELECT v.x FROM t LATERAL VIEW explode(split(name, ',')) v AS x"
    loose = execute_sql(spark, q, tables=_T).collect()
    assert sorted(r["x"] for r in loose) == ["a", "b", "c"]
    assert execute_sql(spark, q, tables=_T, strict=True).collect() == loose


def test_lateral_view_column_alias_in_scope(spark):
    # `LATERAL VIEW explode(..) v AS c` puts `c` in scope, as
    # `UNNEST(..) AS u(c)` does: `c.name` is a struct field access
    q = "SELECT id, c.name AS n FROM t LATERAL VIEW explode(items) v AS c"
    tables = {"t": [
        {"id": 1, "items": [{"name": "a"}, {"name": "b"}]},
        {"id": 2, "items": [{"name": "c"}]},
    ]}
    loose = execute_sql(spark, q, tables=tables).collect()
    assert sorted(r["n"] for r in loose) == ["a", "b", "c"]
    assert execute_sql(spark, q, tables=tables, strict=True).collect() == loose


def test_unbalanced_lateral_view_raises_what_loose_mode_raises(spark):
    q = "SELECT * FROM t LATERAL VIEW explode(arr"
    with pytest.raises(Exception) as loose:
        execute_sql(spark, q, tables=_T).collect()
    with pytest.raises(Exception) as strict:
        execute_sql(spark, q, tables=_T, strict=True).collect()
    assert type(strict.value) is type(loose.value)


def test_array_literal_elements():
    _rejects("SELECT [x + 1] AS arr FROM singleRow")
    _rejects("SELECT [x, 2] AS arr FROM singleRow")
    _accepts("SELECT [1, 2, 3] AS arr FROM singleRow")


def test_array_literal_numbers_with_exponents(spark):
    # numbers are read as values, so the letters of an exponent are no
    # identifiers
    res = execute_sql(
        spark,
        "SELECT [1e5, 2] AS a, [1.5e-3] AS b FROM t",
        tables={"t": [{"id": 1}]},
        strict=True,
    )
    assert [(r["a"], r["b"]) for r in res.collect()] == [([1e5, 2.0], [1.5e-3])]


@pytest.mark.parametrize(
    "q", ["SELECT 1[0] FROM t", "SELECT a FROM t WHERE x$[0] = 1"]
)
def test_subscript_after_number_or_dollar(spark, q):
    # a '[' after a number or a '$' identifier is a subscript: strict mode
    # raises what the loose mode raises
    tables = {"t": [{"a": 1, "x": 2}]}
    with pytest.raises(Exception) as loose:
        execute_sql(spark, q, tables=tables).collect()
    with pytest.raises(Exception) as strict:
        execute_sql(spark, q, tables=tables, strict=True).collect()
    assert not isinstance(strict.value, AttributeError)
    assert type(strict.value) is type(loose.value)


def test_dotted_from_table_requires_quotes():
    _rejects(
        "SELECT * FROM dataset.parquet",
        tables={"dataset.parquet": []},
    )


# --- runtime guards (strict_guards rewrite) ----------------------------------

def test_strict_guards_wraps_column_start():
    out = strict_guards("SELECT SUBSTRING('hello', val, 2) FROM data")
    assert "raise_error" in out
    assert "start position must be a positive integer" in out
    assert "SQL uses 1-based indexing" in out


def test_strict_guards_leaves_literal_calls_alone():
    q = "SELECT SUBSTRING(name, 1, 3) FROM users"
    assert strict_guards(q) == q
