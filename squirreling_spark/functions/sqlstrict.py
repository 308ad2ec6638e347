"""Opt-in strict validation of the reference SQL dialect.

The engine is deliberately a SUPERSET of the reference: Spark accepts
arities, cast targets and join shapes the reference rejects. For
reference-faithful behavior (and the reference's own test suite, which
asserts on those rejections) ``execute_sql(..., strict=True)`` runs this
validator over the ORIGINAL query text before any rewrite.

Ported behavioral spec, all from the reference's validation layer:
- function arity table: src/validation/functions.js:114-253
  (FUNCTION_SIGNATURES) and its message format
  (validateFunctionArgs, :254-295)
- cast targets: src/validation/functions.js:88-90 (isCastType),
  parse error text src/parse/primary.js:136-142
- interval units: src/parse (tokenizer) — DAY, MONTH, YEAR, HOUR,
  MINUTE, SECOND
- string-function runtime value checks: src/expression/strings.js
  (LENGTH/OCTET_LENGTH type guards, SUBSTRING start>=1 / length>=0,
  LEFT/RIGHT length>=0, REGEXP position>=1)
- join restrictions: src/parse/joins.js (comma-FROM and CROSS JOIN
  only with table functions), LATERAL VIEW shape checks
- window-vs-GROUP-BY exclusion, dotted-identifier scoping, set-op
  column-name agreement: src/execute/execute.js

Only statically decidable rules raise here; per-row value rules
(SUBSTRING with a column start) are enforced by a strict rewrite in
``strict_guards()`` that compiles to JVM-side ``raise_error`` branches.
"""

from __future__ import annotations

import re

from .sqldialect import (
    _AGGREGATE_FUNCS,
    _DQUOTE_RE,
    _PLAIN_NAME_RE,
    _branches,
    _bracket_is_literal,
    _chains,
    _ctes,
    _from_items,
    _iter_calls,
    _rewrite_calls,
    _scan,
    _selects,
    _split_top_args,
    _stmt_of,
    _windows,
)


class StrictDialectError(ValueError):
    """Raised when strict mode rejects SQL the reference would reject."""


# --- arity table (reference src/validation/functions.js:114-253) ----------
# (min, max, signature); max None = unbounded
FUNCTION_SIGNATURES: dict[str, tuple[int, int | None, str]] = {
    "UPPER": (1, 1, "string"),
    "LOWER": (1, 1, "string"),
    "LENGTH": (1, 1, "string"),
    "OCTET_LENGTH": (1, 1, "string"),
    "TRIM": (1, 1, "string"),
    "REPLACE": (3, 3, "string, search, replacement"),
    "SUBSTRING": (2, 3, "string, start[, length]"),
    "SUBSTR": (2, 3, "string, start[, length]"),
    "CONCAT": (1, None, "value1, value2[, ...]"),
    "LEFT": (2, 2, "string, length"),
    "RIGHT": (2, 2, "string, length"),
    "INSTR": (2, 2, "string, substring"),
    "POSITION": (2, 2, "string, substring"),
    "STRPOS": (2, 2, "string, substring"),
    "SPLIT_PART": (3, 3, "string, delimiter, index"),
    "STRING_SPLIT": (2, 2, "string, delimiter"),
    "REGEXP_SUBSTR": (2, 4, "string, pattern[, position[, occurrence]]"),
    "REGEXP_EXTRACT": (2, 4, "string, pattern[, position[, occurrence]]"),
    "REGEXP_REPLACE": (
        3, 5, "string, pattern, replacement[, position[, occurrence]]"
    ),
    "REGEXP_MATCHES": (2, 2, "string, pattern"),
    "RANDOM": (0, 0, ""),
    "RAND": (0, 0, ""),
    "CURRENT_DATE": (0, 0, ""),
    "CURRENT_TIME": (0, 0, ""),
    "CURRENT_TIMESTAMP": (0, 0, ""),
    "DATE_TRUNC": (2, 2, "unit, date"),
    "DATE_PART": (2, 2, "field, date"),
    "DATE_DIFF": (3, 3, "unit, start, end"),
    "DATEDIFF": (3, 3, "unit, start, end"),
    "EPOCH": (1, 1, "date"),
    "FLOOR": (1, 1, "number"),
    "CEIL": (1, 1, "number"),
    "CEILING": (1, 1, "number"),
    "ROUND": (1, 2, "number[, decimals]"),
    "ABS": (1, 1, "number"),
    "SIGN": (1, 1, "number"),
    "MOD": (2, 2, "dividend, divisor"),
    "EXP": (1, 1, "number"),
    "LN": (1, 1, "number"),
    "LOG10": (1, 1, "number"),
    "POWER": (2, 2, "base, exponent"),
    "POW": (2, 2, "base, exponent"),
    "SQRT": (1, 1, "number"),
    "SIN": (1, 1, "radians"),
    "COS": (1, 1, "radians"),
    "TAN": (1, 1, "radians"),
    "COT": (1, 1, "radians"),
    "ASIN": (1, 1, "number"),
    "ACOS": (1, 1, "number"),
    "ATAN": (1, 2, "number"),
    "ATAN2": (2, 2, "y, x"),
    "DEGREES": (1, 1, "radians"),
    "RADIANS": (1, 1, "degrees"),
    "PI": (0, 0, ""),
    "JSON_VALUE": (2, 2, "expression, path"),
    "JSON_QUERY": (2, 2, "expression, path"),
    "JSON_EXTRACT": (2, 2, "expression, path"),
    "JSON_OBJECT": (0, None, "key1, value1[, ...]"),
    "JSON_ARRAY_LENGTH": (1, 1, "array"),
    "JSON_VALID": (1, 1, "value"),
    "JSON_TYPE": (1, 1, "value"),
    "JSON_KEYS": (1, 1, "value"),
    "JSON_ARRAYAGG": (1, 1, "expression"),
    "ARRAY_AGG": (1, 1, "expression"),
    "LIST": (1, 1, "expression"),
    "ARRAY_LENGTH": (1, 2, "array[, dimension]"),
    "LIST_LENGTH": (1, 1, "array"),
    "LEN": (1, 1, "array"),
    "ARRAY_POSITION": (2, 2, "array, element"),
    "LIST_POSITION": (2, 2, "array, element"),
    "ARRAY_CONTAINS": (2, 2, "array, element"),
    "LIST_CONTAINS": (2, 2, "array, element"),
    "ARRAY_SORT": (1, 1, "array"),
    "ARRAY_APPEND": (2, 2, "array, element"),
    "LIST_APPEND": (2, 2, "array, element"),
    "ARRAY_CONCAT": (2, 2, "array1, array2"),
    "LIST_CONCAT": (2, 2, "array1, array2"),
    "CARDINALITY": (1, 1, "array"),
    "SIZE": (1, 1, "array"),
    "UNNEST": (1, 1, "array"),
    "EXPLODE": (1, 1, "array"),
    "JSON_EACH": (1, 1, "value"),
    "COALESCE": (1, None, "value1, value2[, ...]"),
    "NULLIF": (2, 2, "value1, value2"),
    "GREATEST": (1, None, "value1[, value2, ...]"),
    "LEAST": (1, None, "value1[, value2, ...]"),
    "COUNT": (1, 1, "expression"),
    "COUNTIF": (1, 1, "condition"),
    "SUM": (1, 1, "expression"),
    "AVG": (1, 1, "expression"),
    "MIN": (1, 1, "expression"),
    "MAX": (1, 1, "expression"),
    "STDDEV_SAMP": (1, 1, "expression"),
    "STDDEV_POP": (1, 1, "expression"),
    "MEDIAN": (1, 1, "expression"),
    "PERCENTILE_CONT": (2, 2, "fraction, expression"),
    "APPROX_QUANTILE": (2, 2, "expression, fraction"),
    "STRING_AGG": (2, 2, "expression, separator"),
    "ROW_NUMBER": (0, 0, ""),
    "LAG": (1, 3, "value[, offset[, default]]"),
    "LEAD": (1, 3, "value[, offset[, default]]"),
    "ST_INTERSECTS": (2, 2, "geometry, geometry"),
    "ST_CONTAINS": (2, 2, "geometry, geometry"),
    "ST_CONTAINSPROPERLY": (2, 2, "geometry, geometry"),
    "ST_WITHIN": (2, 2, "geometry, geometry"),
    "ST_OVERLAPS": (2, 2, "geometry, geometry"),
    "ST_TOUCHES": (2, 2, "geometry, geometry"),
    "ST_EQUALS": (2, 2, "geometry, geometry"),
    "ST_CROSSES": (2, 2, "geometry, geometry"),
    "ST_COVERS": (2, 2, "geometry, geometry"),
    "ST_COVEREDBY": (2, 2, "geometry, geometry"),
    "ST_DWITHIN": (3, 3, "geometry, geometry, distance"),
    "ST_GEOMFROMTEXT": (1, 1, "wkt"),
    "ST_MAKEENVELOPE": (4, 4, "xmin, ymin, xmax, ymax"),
    "ST_ASTEXT": (1, 1, "geometry"),
}

_CAST_TYPES = {
    "TEXT", "STRING", "VARCHAR", "INTEGER", "INT", "BIGINT", "FLOAT",
    "REAL", "DOUBLE", "BOOLEAN", "BOOL", "TIMESTAMP",
}
_INTERVAL_UNITS = {"DAY", "MONTH", "YEAR", "HOUR", "MINUTE", "SECOND"}


def _edit_distance(a: str, b: str) -> int:
    """Levenshtein distance (reference parseErrors.js:160-178)."""
    m, n = len(a), len(b)
    dp = list(range(m + 1))
    for j in range(1, n + 1):
        prev = dp[0]
        dp[0] = j
        for i in range(1, m + 1):
            tmp = dp[i]
            dp[i] = prev if a[i - 1] == b[j - 1] else 1 + min(
                prev, dp[i], dp[i - 1]
            )
            prev = tmp
    return dp[m]


def suggest_functions(
    name: str, extra: list[str] | None = None
) -> list[str]:
    """Did-you-mean candidates for an unknown function name — the
    reference's suggestFunctions (validation/parseErrors.js:128-154):
    names sharing the underscore prefix (JSON_, ST_) plus names within
    edit distance max(3, len/2), ranked by distance, top 4. ``extra``
    adds session-registered names (UDFs) to the candidate pool."""
    upper = name.upper()
    pool: list[str] = list(FUNCTION_SIGNATURES)
    for e in extra or []:
        eu = e.upper()
        if eu not in pool and not eu.startswith("_"):
            pool.append(eu)
    idx = upper.find("_")
    prefix = upper[: idx + 1] if idx > 0 else ""
    max_dist = max(3, len(upper) // 2)
    scored = []
    for n in pool:
        d = _edit_distance(upper, n)
        if d <= max_dist or (prefix and n.startswith(prefix)):
            scored.append((d, n))
    scored.sort(key=lambda t: t[0])
    return [n for _, n in scored[:4]]


_TABLE_FUNCS = {
    "UNNEST", "JSON_EACH", "VALUES", "LATERAL", "GENERATE_SERIES", "RANGE",
}


def _validate_known_tables(q: str, tables) -> None:
    """Reference TableNotFoundError (validation/tables.js:166-211): a bare
    FROM/JOIN table name absent from the table map raises with the
    available-table list. Only enforced when a table map is given —
    catalog-backed sessions resolve names Spark-side."""
    if not tables:
        return
    known = {t.lower() for t in tables} | {c.name.lower() for c in _ctes(q)}
    for it in _from_items(q):
        # dotted and quoted names are _validate_dotted_from's and Spark's
        if it.kind != "table" or it.quoted or "." in it.name:
            continue
        if it.name.upper() in _TABLE_FUNCS:
            continue
        if it.name.lower() not in known:
            raise StrictDialectError(
                f'Table "{it.name}" not found. Available tables: '
                + ", ".join(tables)
            )


def _literal_int(arg: str) -> int | None:
    m = re.fullmatch(r"\s*(-?\d+)\s*", arg)
    return int(m.group(1)) if m else None


def _validate_arity(q: str, functions) -> None:
    udf_names = {k.upper() for k in (functions or {})}
    for name, pos, args, _ in _iter_calls(q):
        if name in udf_names:
            continue  # UDF arity is the registration's concern
        spec = FUNCTION_SIGNATURES.get(name)
        if spec is None:
            continue  # engine superset: unknown-to-the-reference is fine
        if name == "EXTRACT":
            continue  # EXTRACT(field FROM x) has its own syntax
        if name == "TRIM" and args and re.match(
            r"\s*(BOTH|LEADING|TRAILING)\b", args[0], re.I
        ):
            continue  # TRIM(BOTH .. FROM ..) standard form
        if name == "POSITION" and len(args) == 1 and re.search(
            r"\sIN\s", args[0], re.I
        ):
            continue  # POSITION(needle IN haystack) standard form
        if name in ("PERCENTILE_CONT", "PERCENTILE_DISC") and re.search(
            r"\bWITHIN\s+GROUP\b", q[pos:], re.I
        ):
            continue  # ordered-set form: ORDER BY expr is the 2nd arg
        if name == "SUBSTRING" and len(args) == 1 and re.search(
            r"\sFROM\s", args[0], re.I
        ):
            continue  # SUBSTRING(x FROM s [FOR l]) standard form
        n = len(args)
        if name == "COUNT" and n == 0:
            n = 1  # COUNT(*) tokenizes oddly; reference counts 1
        lo, hi, signature = spec
        if n < lo or (hi is not None and n > hi):
            if hi is None:
                expected = f"at least {lo} argument"
            elif lo != hi:
                expected = f"{lo}-{hi} arguments"
            else:
                expected = f"{lo} argument" + ("s" if lo != 1 else "")
            raise StrictDialectError(
                f"{name}({signature}) function requires {expected}, "
                f"got {n} at position {pos}"
            )


def _validate_literal_args(q: str) -> None:
    """Statically-visible invalid literal arguments (strings.js checks)."""
    for name, pos, args, _ in _iter_calls(q):
        if name in ("SUBSTRING", "SUBSTR") and len(args) >= 2:
            # reference message shapes: strings.js, asserted verbatim by
            # execute.errors.test.js
            s = _literal_int(args[1])
            if s is not None and s < 1:
                raise StrictDialectError(
                    "SUBSTRING(string, start[, length]): start position "
                    f"must be a positive integer, got {s}. SQL uses "
                    f"1-based indexing. (at position {pos})"
                )
            if len(args) == 3:
                ln = _literal_int(args[2])
                if ln is not None and ln < 0:
                    raise StrictDialectError(
                        "SUBSTRING(string, start[, length]): length must "
                        f"be a non-negative integer, got {ln} "
                        f"(at position {pos})"
                    )
        if name in ("LEFT", "RIGHT") and len(args) == 2:
            ln = _literal_int(args[1])
            if ln is not None and ln < 0:
                raise StrictDialectError(
                    f"{name}(string, length): length must be a "
                    f"non-negative integer, got {ln} (at position {pos})"
                )
        if name == "SPLIT_PART" and len(args) == 3:
            ix = _literal_int(args[2])
            if ix == 0:
                raise StrictDialectError(
                    "SPLIT_PART(string, delimiter, index): index must be "
                    "a non-zero integer, got 0. Field indexes are "
                    f"1-based. (at position {pos})"
                )
        if name in ("REGEXP_SUBSTR", "REGEXP_EXTRACT") and len(args) >= 3:
            p = _literal_int(args[2])
            if p is not None and p < 1:
                raise StrictDialectError(
                    f"{name}: position must be a positive integer, "
                    f"got {p} (at position {pos})"
                )
            if len(args) >= 4:
                occ = _literal_int(args[3])
                if occ is not None and occ < 1:
                    raise StrictDialectError(
                        f"{name}: occurrence must be a positive integer, "
                        f"got {occ} (at position {pos})"
                    )
        if name == "REGEXP_REPLACE" and len(args) >= 4:
            p = _literal_int(args[3])
            if p is not None and p < 1:
                raise StrictDialectError(
                    f"{name}: position must be a positive integer, "
                    f"got {p} (at position {pos})"
                )
            if len(args) >= 5:
                occ = _literal_int(args[4])
                if occ is not None and occ < 0:
                    raise StrictDialectError(
                        f"{name}: occurrence must be a non-negative "
                        f"integer, got {occ} (at position {pos})"
                    )
        if name.startswith("REGEXP_") and len(args) >= 2:
            # statically-invalid literal regex pattern (reference throws
            # 'invalid regex pattern' per row; strict throws up front)
            pat = args[1].strip()
            if len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'":
                try:
                    re.compile(pat[1:-1].replace("''", "'"))
                except re.error:
                    raise StrictDialectError(
                        f"{name}: invalid regex pattern {pat} "
                        f"(at position {pos})"
                    ) from None
        if name == "JSON_EACH" and len(args) >= 1:
            a = args[0].strip()
            if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
                import json as _json

                try:
                    v = _json.loads(a[1:-1].replace("''", "'"))
                except ValueError:
                    raise StrictDialectError(
                        f"JSON_EACH(value): invalid JSON string "
                        f"(at position {pos})"
                    ) from None
                if not isinstance(v, (list, dict)):
                    raise StrictDialectError(
                        f"JSON_EACH(value): argument must be a JSON "
                        f"object or array, got {a} (at position {pos})"
                    )


def _validate_string_arg_types(q: str, spark) -> None:
    """LENGTH rejects numbers/dates (strings.js:38-46); OCTET_LENGTH is
    string-only (:48-56). With a statically-typed column the reference
    would throw on the first row — strict mode throws up front."""
    from pyspark.sql import types as T

    from .sqldialect import _ref_dtype

    bad_len = (
        T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
        T.DecimalType, T.ShortType, T.DateType, T.TimestampType,
        T.BooleanType,
    )
    for name, pos, args, _ in _iter_calls(q):
        if name not in ("LENGTH", "OCTET_LENGTH") or len(args) != 1:
            continue
        dt = _ref_dtype(spark, args[0].strip())
        if dt is None:
            continue
        kind = (
            "date" if isinstance(dt, (T.DateType, T.TimestampType))
            else "number" if isinstance(dt, bad_len) else None
        )
        if isinstance(dt, (T.StructType, T.MapType)):
            kind = "object"
        elif name == "OCTET_LENGTH" and isinstance(dt, T.ArrayType):
            kind = "object"
        if kind:
            # reference message shape (strings.js, asserted verbatim)
            if name == "OCTET_LENGTH":
                sig, want = "OCTET_LENGTH(string)", "string"
            else:
                sig, want = "LENGTH(string)", "string or array"
            raise StrictDialectError(
                f"{sig}: expected {want}, got {kind}. Use CAST to convert"
                f" to a string first. (at position {pos})"
            )


def _validate_cast_targets(q: str) -> None:
    for name, pos, args, _ in _iter_calls(q):
        if name != "CAST" or len(args) != 1:
            continue
        m = re.search(r"\sAS\s+([A-Za-z]+)\s*$", args[0], re.I)
        if m and m.group(1).upper() not in _CAST_TYPES:
            raise StrictDialectError(
                'Expected cast type (STRING, INT, BIGINT, FLOAT, BOOL, '
                f'TIMESTAMP) after "AS" but found "{m.group(1)}" '
                f"at position {pos}"
            )


def _validate_intervals(q: str) -> None:
    mask = _scan(q).mask
    for m in re.finditer(r"\bINTERVAL\b", q, re.I):
        if mask[m.start()]:
            continue
        tail = q[m.end():]
        um = re.match(r"\s+'?-?\d+'?\s+([A-Za-z]+)", tail)
        if um:
            unit = um.group(1).upper()
            if unit.endswith("S") and unit[:-1] in _INTERVAL_UNITS:
                unit = unit[:-1]
            if unit not in _INTERVAL_UNITS:
                # position = offset of the UNIT token in the original
                # query (reference parse-layer convention)
                raise StrictDialectError(
                    f"Invalid interval unit {um.group(1)} at position "
                    f"{m.end() + um.start(1)}. Valid values: "
                    "DAY, MONTH, YEAR, HOUR, MINUTE, SECOND"
                )
        # standalone INTERVAL: only valid directly after + or - (date
        # arithmetic) — a select item starting with INTERVAL is an error
        before = q[: m.start()].rstrip()
        if not before or before[-1] not in "+-":
            raise StrictDialectError(
                f"INTERVAL can only be used with date arithmetic (+ or -) "
                f"— standalone INTERVAL at position {m.start()}"
            )


def _validate_order_by_star(q: str) -> None:
    """ORDER BY <n> where select item n of its statement is ``*``
    (reference resolves positional ORDER BY against the select list; *
    has no single value)."""
    for sel in _selects(q):
        if "ORDER BY" not in sel.clauses:
            continue
        _, start, end = sel.clauses["ORDER BY"]
        items = [q[it.start : it.end] for it in sel.items]
        for key in _split_top_args(q[start:end]):
            im = re.fullmatch(r"(\d+)\s*(ASC|DESC)?", key, re.I)
            if im:
                n = int(im.group(1))
                if 1 <= n <= len(items) and items[n - 1] == "*":
                    raise StrictDialectError(
                        f"ORDER BY position {n} refers to * which is not "
                        "supported"
                    )


def _table_columns(value) -> list[str]:
    """Column names of a table-map value: a DataFrame or a list of row
    dicts (the first row's keys); [] for anything else."""
    if hasattr(value, "columns"):
        return list(value.columns)
    if isinstance(value, list) and value:
        return list(value[0].keys())
    return []


def _visible_tables(q: str, tables) -> list[str]:
    """FROM-item table names as the query sees them — an alias REPLACES
    its base name (reference + Spark both hide the original). Falls back
    to the table-map keys when no FROM table parses."""
    vis: list[str] = []
    for it in _from_items(q):
        name = it.alias or it.name
        if it.kind == "table" and name not in vis:
            vis.append(name)
    return vis or list(tables or {})


def _from_scope(q: str, tables) -> set[str]:
    """Table names and aliases visible to dotted references. A base name
    with an alias is HIDDEN (both the reference and Spark reject
    ``FROM users u ... users.id``)."""
    scope = set(tables or {})
    aliased_bases: set[str] = set()
    unaliased: set[str] = set()
    for it in _from_items(q):
        if it.kind == "table":
            (aliased_bases if it.alias else unaliased).add(it.name)
        if it.alias or it.kind == "table":
            scope.add(it.alias or it.name)
        # `UNNEST(..) AS u(x, y)` and `LATERAL VIEW explode(..) v AS x`
        # expose x/y directly, and a struct-typed element alias makes
        # `x.field` a legal dotted reference
        scope.update(it.cols or ())
    scope.update(c.name for c in _ctes(q))
    # an aliased base name is hidden even when it is a table-map key —
    # unless the same table is ALSO referenced unaliased elsewhere
    return scope - (aliased_bases - unaliased)


def _validate_dotted_from(q: str) -> None:
    """A dotted table name written bare as a FROM item is rejected — the
    reference has no schemas, so ``FROM dataset.parquet`` never resolves
    unquoted even when 'dataset.parquet' is a flat table-map key
    (execute.dot tests). Static — needs no session."""
    for it in _from_items(q):
        if it.kind == "table" and not it.quoted and "." in it.name:
            # reference parse-layer text (execute.dot tests, verbatim)
            raise StrictDialectError(
                f'Unexpected "." in "{it.name}". If this is an '
                f'identifier, use double quotes: "{it.name}" '
                f"(at position {it.kw})"
            )


def _validate_dotted_refs(q: str, spark, tables) -> None:
    """Unquoted ``a.b`` (a chain, ``_chains``, whose first step is a
    field) resolves ONLY when ``a`` is a table/alias in scope or a struct
    column; the reference rejects dotted access to FLAT columns named
    'a.b' unless quoted (execute.dot tests)."""
    from pyspark.sql import types as T

    from .sqldialect import _ref_dtype

    scope = _from_scope(q, tables)
    bad = []  # (position, head, fields) of a.b whose head resolves to nothing
    for ch in filter(lambda ch: ch.steps, _chains(q)):
        head = q[ch.start : ch.base_end]
        if ch.kind != "ident" or head[0] == "`" or ch.steps[0][0] != ".":
            continue
        if head not in scope and not isinstance(
            _ref_dtype(spark, head), T.StructType
        ):
            fields = [q[a + 1 : b] for op, a, b in ch.steps[:2] if op == "."]
            bad.append((ch.start, head, fields))
    # a.b.c: the reference parser stops at the second dot, before any
    # table is looked up (execute.dot tests)
    for at, _, fields in bad:
        if len(fields) == 2:
            name = ".".join(fields)
            raise StrictDialectError(
                f'Unexpected "." in "{name}". If this is an identifier, '
                f'use double quotes: "{name}" (at position {at})'
            )
    if bad:
        # reference TableNotFoundError with qualified usage
        # (validation/tables.js:166-211, asserted by execute.dot tests)
        at, head, fields = bad[0]
        avail = ", ".join(_visible_tables(q, tables))
        raise StrictDialectError(
            f'Table "{head}" not found in "{head}.{fields[0]}". '
            f"Available tables: {avail} (at position {at})"
        )


def _validate_joins(q: str, tables) -> None:
    """Comma-FROM and CROSS JOIN take only table functions (reference
    src/parse/joins.js)."""
    table_names = set(tables or {})
    for it in _from_items(q):
        if it.kind != "table" or it.name not in table_names:
            continue
        if it.join == ",":
            raise StrictDialectError(
                "Comma-separated FROM is only supported with table functions "
                "like UNNEST; use explicit JOIN ... ON ... for regular tables"
            )
        if it.join == "CROSS JOIN":
            raise StrictDialectError(
                "CROSS JOIN is currently supported only with table functions "
                "like UNNEST"
            )


_LATERAL_VIEW_FUNCS = {
    "EXPLODE", "POSEXPLODE", "EXPLODE_OUTER", "POSEXPLODE_OUTER", "INLINE",
    "INLINE_OUTER", "JSON_TUPLE", "STACK", "UNNEST", "JSON_EACH",
}


def _validate_lateral(q: str) -> None:
    """LATERAL shapes, read from ``_from_items``: ``JOIN LATERAL fn(..)``
    is the reference's explicit-LATERAL join form
    (execute.unnest.test.js "explicit LATERAL keyword"); any other
    LATERAL needs VIEW, and ``LATERAL VIEW`` takes a table function, a
    table alias and ``AS`` column names. Positions are those of the
    offending token (reference parse-layer convention, asserted by the
    execute.unnest tests)."""
    items = _from_items(q)
    for it in items:
        if it.join not in ("FROM", ",", "LATERAL", "LATERAL OUTER"):
            continue
        # the word after LATERAL
        at = it.start
        if it.join.startswith("LATERAL"):
            at = len(q) - len(q[it.kw + len("LATERAL") :].lstrip())
        found = it.lateral and re.match(r"\w+", q[at:])
        if found:
            raise StrictDialectError(
                f'Expected VIEW after "LATERAL" but found "{found.group()}" '
                f"at position {at}"
            )
    views = [it for it in items if it.join.startswith("LATERAL VIEW")]
    for it in views:
        if it.name not in _LATERAL_VIEW_FUNCS:
            raise StrictDialectError(
                "LATERAL VIEW requires a table function like EXPLODE, "
                f'got "{q[it.start : it.start + len(it.name)]}" at position '
                f"{it.start}"
            )
    for it in views:
        if it.alias is None and it.cols:
            raise StrictDialectError(
                "LATERAL VIEW requires a table alias before AS"
            )
        if it.alias is None:
            continue
        after = q.index(it.alias, it.rel_end) + len(it.alias)
        at = len(q) - len(q[after:].lstrip())
        if not re.match(r"AS\b", q[at:], re.I):
            raise StrictDialectError(
                f'Expected AS after "{it.alias}" but found end of query '
                f"at position {at}"
            )


def _validate_table_functions(q: str) -> None:
    """UNNEST/EXPLODE/JSON_EACH are table functions: FROM items only
    (reference parse — 'X is a table function and can only be used in
    FROM clauses'), or Spark's ``LATERAL VIEW [OUTER] EXPLODE(...)``."""
    items = [it for it in _from_items(q) if it.kind == "call"]
    in_from = {it.start for it in items}
    names = ("UNNEST", "EXPLODE", "JSON_EACH")
    for name, start, _, _ in _iter_calls(q, names):
        if start in in_from:
            continue
        raise StrictDialectError(
            f"{name} is a table function and can only be "
            f"used in FROM clauses at position {start}"
        )
    # column-alias-list arity: UNNEST exposes ONE column, JSON_EACH two
    # (key, value) — reference parse errors, asserted verbatim
    for it in items:
        if it.join.startswith("LATERAL"):
            continue  # Spark's own LATERAL VIEW
        if it.name == "UNNEST" and len(it.cols or ()) > 1:
            raise StrictDialectError(
                "UNNEST produces a single column; only one column alias "
                f"is allowed (at position {it.start})"
            )
        if it.name == "JSON_EACH" and len(it.cols or ()) > 2:
            raise StrictDialectError(
                "JSON_EACH produces at most 2 columns (key, value); too "
                f"many column aliases (at position {it.start})"
            )


def _validate_unnest_alias_select(q: str, tables=None) -> None:
    """``UNNEST(x) AS u`` exposes the column as ``u.unnest`` — selecting
    bare ``u`` is an unknown column in the reference
    (execute.unnest.test.js:402-411); the error lists the qualified
    columns in scope."""
    unnests = [
        it for it in _from_items(q)
        if it.kind == "call" and it.name in ("UNNEST", "EXPLODE")
        and it.alias and it.cols is None
    ]
    for sel in _selects(q):
        # the aliases of the UNNEST items in this statement's own FROM
        aliases = [
            u.alias for u in unnests if _stmt_of(q, u.kw).start == sel.start
        ]
        items = [q[it.start : it.end] for it in sel.items]
        bare = next((item for item in items if item in aliases), None)
        if bare is None:
            continue
        avail: list[str] = []
        for v in _visible_tables(q, tables):
            cols = _table_columns((tables or {}).get(v))
            avail += [f"{v}.{c}" for c in cols]
        avail += [f"{a}.unnest" for a in aliases]
        raise StrictDialectError(
            f'Column "{bare}" not found. Available columns: '
            + ", ".join(avail)
        )


_WINDOW_ONLY_FUNCS = (
    "ROW_NUMBER", "RANK", "DENSE_RANK", "LAG", "LEAD", "NTILE",
    "PERCENT_RANK", "CUME_DIST", "FIRST_VALUE", "LAST_VALUE", "NTH_VALUE",
)


def _validate_aggregate_modifiers(q: str) -> None:
    """WITHIN GROUP is PERCENTILE_CONT-only (and excludes the positional
    value-argument form); FILTER attaches to aggregates only — reference
    validation messages asserted verbatim by execute.aggregate tests."""
    for name, pos, args, end in _iter_calls(q):
        tail = q[end:]
        if re.match(r"\s*WITHIN\s+GROUP\b", tail, re.I):
            if name != "PERCENTILE_CONT":
                raise StrictDialectError(
                    "WITHIN GROUP is only supported for PERCENTILE_CONT, "
                    f'not "{name}" (at position {pos})'
                )
            if len(args) >= 2:
                raise StrictDialectError(
                    "PERCENTILE_CONT: cannot combine WITHIN GROUP with a "
                    f"value argument (at position {pos})"
                )
        if (
            re.match(r"\s*FILTER\s*\(", tail, re.I)
            and name not in _AGGREGATE_FUNCS
        ):
            raise StrictDialectError(
                "FILTER cannot be applied to non-aggregate function "
                f'"{name}" (at position {pos})'
            )


def _validate_window_groupby(q: str) -> None:
    # window-only functions need OVER (reference parse error, verbatim)
    for name, start, _, end in _iter_calls(q, _WINDOW_ONLY_FUNCS):
        if not re.match(r"\s*OVER\b", q[end:], re.I):
            raise StrictDialectError(
                f"{name}() requires an OVER clause at position {start}"
            )
        # window functions are select-list/ORDER BY only — a call in its
        # statement's WHERE is rejected with the function named (reference)
        sel = _stmt_of(q, start)
        where = sel.clauses.get("WHERE") if sel else None
        if where and where[1] <= start < where[2]:
            raise StrictDialectError(
                f"Window function {name} is not allowed in WHERE clause"
            )
    s = _scan(q)
    if any(not s.depth[w.start] for w in _windows(q)) and any(
        "GROUP BY" in sel.clauses for sel in _selects(q)
        if not s.depth[sel.start]
    ):
        raise StrictDialectError(
            "Window functions are not supported in queries with "
            "aggregation (GROUP BY)"
        )


def _validate_setop_names(q: str) -> None:
    """Set-operation branches must agree on output column NAMES
    (execute.union tests). Checked only when every branch's select-list
    names are statically derivable."""
    def names(sel) -> list[str] | None:
        out = []
        for it in sel.items:
            name = it.alias or q[it.start : it.end]
            if not _PLAIN_NAME_RE.fullmatch(name):
                return None
            out.append(name.lower())
        return out

    derived = [names(sel) for sel in _branches(q)]
    if len(derived) < 2:
        return
    if any(d is None for d in derived):
        return
    first = derived[0]
    for other in derived[1:]:
        if other != first:
            raise StrictDialectError(
                f"Set operation operands must have identical columns: "
                f"{first} vs {other}"
            )


def _validate_array_literals(q: str) -> None:
    """Reference array literals hold LITERAL elements only
    (execute.unnest 'should reject non-literal elements'). Every value
    (``_chains``) inside a ``[..]`` literal must be a string, a number,
    a group or TRUE/FALSE/NULL; an identifier, a call or a "..."
    identifier is rejected."""
    values = _chains(q)
    for lit in values:
        if lit.kind != "group" or q[lit.start] != "[":
            continue
        found = [
            (v.start, q[v.start : v.base_end].split("(")[0])
            for v in values
            if lit.start < v.start < lit.base_end and v.kind in ("ident", "call")
        ] + [
            (m.start(), m.group(1))
            for m in _DQUOTE_RE.finditer(q, lit.start, lit.base_end)
            if m.group(1) is not None
        ]
        found = [f for f in found if f[1].upper() not in ("TRUE", "FALSE", "NULL")]
        if found:
            name = min(found)[1].strip("`")
            raise StrictDialectError(
                f"Array literal elements must be constant literals — "
                f'found "{name}" at position {lit.start}'
            )


def validate_reference_sql(
    query: str,
    spark=None,
    tables: dict | None = None,
    functions: dict | None = None,
) -> None:
    """Raise StrictDialectError where the reference's parser/validator
    would reject the query. Call on the ORIGINAL query text, after
    fixture tables are registered (dtype checks), before rewrites."""
    _validate_arity(query, functions)
    _validate_dotted_from(query)
    _validate_known_tables(query, tables)
    _validate_literal_args(query)
    _validate_cast_targets(query)
    _validate_intervals(query)
    _validate_order_by_star(query)
    _validate_joins(query, tables)
    _validate_lateral(query)
    _validate_table_functions(query)
    _validate_unnest_alias_select(query, tables)
    _validate_window_groupby(query)
    _validate_aggregate_modifiers(query)
    _validate_setop_names(query)
    _validate_array_literals(query)
    if spark is not None:
        _validate_string_arg_types(query, spark)
        _validate_dotted_refs(query, spark, tables)


# --- runtime guards (per-row value rules) ----------------------------------

def strict_guards(q: str) -> str:
    """Rewrite per-row value rules the validator can't decide statically
    into JVM-side ``raise_error`` branches — SUBSTRING start/length from
    a column (reference throws with the offending row index;
    strings.js). Applied only in strict mode."""

    def _wrap_substring(args):
        if len(args) not in (2, 3):
            return None
        x, s = args[0], args[1]
        start_msg = (
            "'SUBSTRING(string, start[, length]): start position must be"
            " a positive integer, got '"
        )
        start_tail = "'. SQL uses 1-based indexing.'"
        if len(args) == 2:
            if _literal_int(s) is not None:
                return None  # statically validated
            return (
                f"(CASE WHEN ({s}) IS NOT NULL AND ({s}) < 1 THEN "
                f"raise_error(concat({start_msg}, "
                f"CAST(({s}) AS STRING), {start_tail})) "
                f"ELSE substring(({x}), ({s})) END)"
            )
        ln = args[2]
        if _literal_int(s) is not None and _literal_int(ln) is not None:
            return None
        return (
            f"(CASE WHEN ({s}) IS NOT NULL AND ({s}) < 1 THEN "
            f"raise_error(concat({start_msg}, "
            f"CAST(({s}) AS STRING), {start_tail})) "
            f"WHEN ({ln}) IS NOT NULL AND ({ln}) < 0 THEN "
            f"raise_error(concat('SUBSTRING(string, start[, length]): "
            f"length must be a non-negative integer, got ', "
            f"CAST(({ln}) AS STRING))) "
            f"ELSE substring(({x}), ({s}), ({ln})) END)"
        )

    return _rewrite_calls(
        q, dict.fromkeys(("SUBSTRING", "SUBSTR"), _wrap_substring)
    )
