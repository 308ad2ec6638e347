"""Unit tests for the production wish-list dialect rewrites
(functions/sqldialect.py, reference syntax.md:22-41): each ranked item's
syntax executes through engine.execute_sql with the documented semantics.
The graded cross-engine check is queries_digests.wishlist_digest; these
tests pin the rewrite mechanics and the edge cases the digest can't host
(lambda-arrow guard, unmapped strftime codes, non-literal globs).
"""
import pytest

from squirreling_spark.engine import execute_sql
from squirreling_spark.functions.sqldialect import (
    _glob_to_rlike,
    _rewrite_distinct_on,
    _rewrite_exclude,
    _rewrite_json_arrows,
    _rewrite_tilde_ops,
    _strftime_java,
)

T = [
    {"id": 0, "name": "alice", "j": '{"a": {"b": [5, 7]}, "n": 3}'},
    {"id": 1, "name": "bob", "j": '{"a": {"b": [1]}, "n": 9}'},
    {"id": 2, "name": "ava", "j": '{"n": 4}'},
]


def run(spark, q):
    return list(execute_sql(spark, q, tables={"t": T}).collect())


# --- pure-text rewrites ----------------------------------------------------

def test_arrow_rewrite_text():
    assert _rewrite_json_arrows("SELECT j->'a' FROM t") == \
        "SELECT json_query(j, '$.a') FROM t"
    assert _rewrite_json_arrows("SELECT j->>'a' FROM t") == \
        "SELECT json_value(j, '$.a') FROM t"
    # left-assoc chain
    assert _rewrite_json_arrows("j->'a'->'b'->>0") == \
        "json_value(json_query(json_query(j, '$.a'), '$.b'), '$[0]')"
    # $-paths pass through; arrows inside string literals untouched
    assert _rewrite_json_arrows("j->>'$.a[1]'") == "json_value(j, '$.a[1]')"
    assert _rewrite_json_arrows("SELECT '->' FROM t") == "SELECT '->' FROM t"


def test_arrow_lambda_guard():
    # lambda bodies are never literals; a bare param directly after ( or ,
    # with an integer RHS is left alone
    q = "SELECT transform(arr, v -> 5) FROM t"
    assert _rewrite_json_arrows(q) == q
    q2 = "SELECT filter(arr, (v, i) -> v) FROM t"
    assert _rewrite_json_arrows(q2) == q2


def test_arrow_multiparam_lambda_guard():
    # (x, i) -> 1: a parenthesized identifier list after '(' or ',' is a
    # multi-param lambda head, not an arrow operand (r8 advice)
    q = "SELECT transform(a, (x, i) -> 1) FROM t"
    assert _rewrite_json_arrows(q) == q
    q2 = "SELECT aggregate(a, 0, (acc, v) -> 2, acc -> 3) FROM t"
    assert _rewrite_json_arrows(q2) == q2
    # but a genuine parenthesized VALUE still rewrites
    assert _rewrite_json_arrows("SELECT (j)->>0 FROM t") == \
        "SELECT json_value((j), '$[0]') FROM t"


def test_arrow_doubled_quote_literal():
    # 'it''s'->>'k': the backward scan must span the WHOLE literal
    # (escaped '' pair), not splice inside it (r8 advice)
    assert _rewrite_json_arrows("SELECT 'it''s'->>'k' AS v") == \
        "SELECT json_value('it''s', '$.k') AS v"
    assert _rewrite_json_arrows("SELECT '''s'->>'k' AS v") == \
        "SELECT json_value('''s', '$.k') AS v"


def test_glob_translation():
    assert _glob_to_rlike("a*e") == "^a.*e$"
    assert _glob_to_rlike("a?c") == "^a.c$"
    assert _glob_to_rlike("x[!ab]y") == "^x[^ab]y$"
    assert _glob_to_rlike("10%") == "^10%$"  # % not regex-special


def test_tilde_binary_only():
    assert _rewrite_tilde_ops("a ~ 'x'") == "a  RLIKE  'x'"
    assert _rewrite_tilde_ops("a !~ 'x'") == "a  NOT RLIKE  'x'"
    # unary bitwise NOT untouched (no value token on the left)
    assert _rewrite_tilde_ops("SELECT ~5") == "SELECT ~5"
    assert _rewrite_tilde_ops("SELECT '~'") == "SELECT '~'"


def test_tilde_case_insensitive_ops():
    # ~* / !~* fold (?i) into a literal pattern (r8 advice — previously
    # mangled to "RLIKE *")
    assert _rewrite_tilde_ops("a ~* 'abc'") == "a  RLIKE '(?i)abc'"
    assert _rewrite_tilde_ops("a !~* 'abc'") == "a  NOT RLIKE '(?i)abc'"
    # non-literal RHS: left untouched (clean parse error, not RLIKE *)
    assert _rewrite_tilde_ops("a ~* b") == "a ~* b"


def test_exclude_rewrite():
    assert _rewrite_exclude("SELECT * EXCLUDE (a, b) FROM t") == \
        "SELECT * EXCEPT (a, b) FROM t"
    assert _rewrite_exclude("SELECT * EXCLUDE a FROM t") == \
        "SELECT * EXCEPT (a) FROM t"


def test_distinct_on_rewrite_shape():
    out = _rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC LIMIT 3"
    )
    assert "ROW_NUMBER() OVER (PARTITION BY k ORDER BY k, v DESC)" in out
    assert out.rstrip().endswith("LIMIT 3")
    assert "__sq_don = 1" in out


def test_strftime_mapping():
    assert _strftime_java("%Y-%m-%d") == "yyyy'-'MM'-'dd"
    assert _strftime_java("%H:%M:%S") == "HH':'mm':'ss"
    assert _strftime_java("%-d %B") == "d' 'MMMM"
    assert _strftime_java("%%") == "'%'"
    assert _strftime_java("%Q") is None  # unmapped → no rewrite


# --- end-to-end through execute_sql -----------------------------------------

def test_arrows_execute(spark):
    rows = run(
        spark,
        "SELECT id, j->>'n' AS n, j->'a'->'b'->>0 AS b0 FROM t ORDER BY id",
    )
    assert [r["n"] for r in rows] == ["3", "9", "4"]
    assert [r["b0"] for r in rows] == ["5", "1", None]


def test_arrow_operand_with_quoted_paren(spark):
    # the ')' inside the fallback literal is quoted: the operand is the
    # whole call (the literal is valid JSON, or JSON_VALUE would raise)
    rows = execute_sql(
        spark,
        "SELECT id, coalesce(j, '{\"b\": \")\"}') ->> 'a' AS a FROM t "
        "ORDER BY id",
        tables={"t": [{"id": 1, "j": '{"a": 7}'}, {"id": 2, "j": None}]},
    ).collect()
    assert rows == [{"id": 1, "a": "7"}, {"id": 2, "a": None}]


def test_distinct_on_execute(spark):
    rows = run(
        spark,
        "SELECT DISTINCT ON (substr(name, 1, 1)) name FROM t "
        "ORDER BY substr(name, 1, 1), name",
    )
    assert sorted(r["name"] for r in rows) == ["alice", "bob"]


def test_glob_tilde_execute(spark):
    rows = run(
        spark,
        "SELECT name FROM t WHERE name GLOB 'a*e' OR name ~ '^b'",
    )
    assert sorted(r["name"] for r in rows) == ["alice", "bob"]
    rows = run(spark, "SELECT name FROM t WHERE name !~ 'a'")
    assert [r["name"] for r in rows] == ["bob"]
    rows = run(spark, "SELECT name FROM t WHERE name ~* 'ALICE'")
    assert [r["name"] for r in rows] == ["alice"]
    rows = run(spark, "SELECT name FROM t WHERE name !~* '^A'")
    assert [r["name"] for r in rows] == ["bob"]


def test_struct_pack_extract_execute(spark):
    rows = run(
        spark,
        "SELECT STRUCT_EXTRACT(STRUCT_PACK(a := id * 2, b := name), 'a') "
        "AS x FROM t ORDER BY id",
    )
    assert [r["x"] for r in rows] == [0, 2, 4]


def test_strftime_dayofweek_execute(spark):
    rows = run(
        spark,
        "SELECT STRFTIME(TIMESTAMP '2026-01-02 03:04:05', '%Y/%m/%d %H:%M')"
        " AS s, DAYOFWEEK(DATE '2026-01-02') AS dw, "
        "WEEKDAY(DATE '2026-01-02') AS wd",
    )
    # 2026-01-02 is a Friday: reference DOW (Sunday=0) = 5, WEEKDAY
    # (Monday=0) = 4
    assert rows == [{"s": "2026/01/02 03:04", "dw": 5, "wd": 4}]


def test_ltrim_rtrim_arg_order(spark):
    rows = run(spark, "SELECT LTRIM('xxaly', 'x') AS l, RTRIM('alyzz', 'z') AS r")
    assert rows == [{"l": "aly", "r": "aly"}]


def test_regexp_replace_flags(spark):
    rows = run(
        spark,
        "SELECT REGEXP_REPLACE('Banana', 'a', '_', 'g') AS g, "
        "REGEXP_REPLACE('Banana', 'b', '#', 'gi') AS gi",
    )
    assert rows == [{"g": "B_n_n_", "gi": "#anana"}]
    # an unknown flag is NOT treated as a flag: the call is unrewritten,
    # so the 4th arg reaches Spark's position parameter (non-ANSI session
    # → NULL cast → NULL result; ANSI sessions raise)
    rows = run(spark, "SELECT REGEXP_REPLACE('Banana', 'a', '_', 'x') AS s")
    assert rows[0]["s"] is None


def test_json_group_aliases_execute(spark):
    rows = run(
        spark,
        "SELECT JSON_GROUP_ARRAY(name) AS ja, "
        "JSON_GROUP_OBJECT(name, id) AS jo FROM (SELECT * FROM t "
        "WHERE id < 2)",
    )
    import json

    assert sorted(json.loads(rows[0]["ja"])) == ["alice", "bob"]
    assert json.loads(rows[0]["jo"]) == {"alice": 0, "bob": 1}


def test_charindex_split_aliases(spark):
    rows = run(
        spark,
        "SELECT CHARINDEX('li', name) AS ci, "
        "REGEXP_SPLIT_TO_ARRAY(name, '[l]')[0] AS r0, "
        "STR_SPLIT(name, 'l')[0] AS s0 FROM t WHERE id = 0",
    )
    assert rows == [{"ci": 2, "r0": "a", "s0": "a"}]


def test_regexp_split_to_table(spark):
    rows = run(
        spark,
        "SELECT REGEXP_SPLIT_TO_TABLE('a,b;c', '[,;]') AS part",
    )
    assert [r["part"] for r in rows] == ["a", "b", "c"]


def test_distinct_on_in_subquery(spark):
    # the rewrite must stop at the enclosing subquery's close paren and
    # keep the outer query's tail intact
    rows = run(
        spark,
        "SELECT x.name FROM (SELECT DISTINCT ON (substr(name, 1, 1)) name"
        " FROM t ORDER BY substr(name, 1, 1), name) x WHERE x.name <> 'bob'",
    )
    assert [r["name"] for r in rows] == ["alice"]


def test_auto_stringify_struct_args(spark):
    # syntax.md runtime table row 2: string functions over struct/array
    # columns stringify to JSON text instead of erroring (the reference
    # asks for an explicit CAST; DuckDB coerces)
    data = [{"id": 0, "obj": {"a": 1, "b": "x"}, "arr": [1, 2], "s": "Hi"}]
    rows = list(
        execute_sql(
            spark,
            "SELECT LOWER(obj) AS lo, SUBSTR(obj, 1, 8) AS sub, "
            "UPPER(arr) AS ua, LOWER(s) AS ls FROM t",
            tables={"t": data},
        ).collect()
    )
    assert rows == [
        {"lo": '{"a":1,"b":"x"}', "sub": '{"a":1,"', "ua": "[1,2]",
         "ls": "hi"}
    ]
