"""Public API façade mirroring the reference engine's entry points.

Reference: hyparam/squirreling src/index.js exports ``executeSql``,
``parseSql``, ``planSql``, ``collect``, ``extractTables``
(src/execute/execute.js:30-56, src/plan/plan.js:21).

Spark-first equivalents:
- ``executeSql(spark, tables=..., query=..., functions=...)`` registers the
  per-query table namespace as temp views (reference src/types.d.ts:26 —
  tables are a flat name→source map), registers UDFs, and returns a
  ``QueryResult`` whose rows stream lazily via ``toLocalIterator`` (the
  analogue of the reference's pull-based AsyncRow generator).
- ``parseSql`` → Catalyst parse check (no execution).
- ``planSql`` → the optimized/physical plan string (``df.explain`` content).
- ``extractTables`` → referenced table names from the parsed plan.
- Cancellation: ``QueryResult.cancel()`` → ``cancelJobGroup`` (the analogue
  of the reference's AbortSignal, src/execute/yield.js:12-30).
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from squirreling_spark.functions.registry import FunctionSpec, register_functions
from squirreling_spark.qutil import local_df


class QueryError(Exception):
    """Base for structured query errors. ``position`` (when Spark provides
    a query context) is {"start", "line", "column", "fragment"} — the
    position annotation the reference attaches to its errors
    (src/validation/parseErrors.js:105-178)."""

    def __init__(self, message: str, position: dict | None = None):
        if position:
            message = (
                f"{message} (at line {position['line']}:{position['column']}"
                f", near {position['fragment']!r})"
            )
        super().__init__(message)
        self.position = position


class TableNotFoundError(QueryError):
    """Raised with the list of available tables (reference
    src/validation/tables.js:166-211)."""


class ColumnNotFoundError(QueryError):
    """Raised with the list of available columns (reference
    src/validation/tables.js:166-211)."""


class UnknownFunctionError(QueryError):
    """Raised with a did-you-mean suggestion (reference
    src/validation/parseErrors.js:105-178)."""


def _position_of(exc: Exception, query: str) -> dict | None:
    """Extract (line, column, fragment) from a Spark exception's query
    context, mapping the context's character offset into the original
    query text."""
    get_ctx = getattr(exc, "getQueryContext", None)
    if get_ctx is None:
        return None
    try:
        contexts = get_ctx() or []
    except Exception:
        return None
    for ctx in contexts:
        try:
            start = ctx.startIndex()
            fragment = ctx.fragment()
        except Exception:
            continue
        if start is None or start < 0:
            # No offset: fall back to locating the fragment textually.
            if fragment and fragment in query:
                start = query.index(fragment)
            else:
                continue
        line = query.count("\n", 0, start) + 1
        column = start - (query.rfind("\n", 0, start) + 1)
        return {
            "start": start,
            "line": line,
            "column": column + 1,
            "fragment": fragment,
        }
    return None


def _py_kind(v) -> str:
    """Type tag for memory-schema inference; int/float SUBCLASSES (e.g. a
    BigInt marker) fold into their base so they type as long/double."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return type(v).__name__


# Columns whose rows mix scalar JS types (int and string, bool and int…)
# have no native Spark type; they register as STRING columns of JSON text
# ('10' for number 10, '"10"' for string '10', 'false' for false) with
# this StructField metadata marker. The dialect layer rewrites the
# operations the reference defines on dynamic columns (aggregate
# numeric-skip, ORDER BY numeric coercion, WHERE truthiness, CAST) —
# see sqldialect._rewrite_dynamic_typing. Reference: the memorySource's
# per-row dynamic JS values (src/backend/dataSource.js:29-71).
DYNAMIC_COL_META = "sq_dynamic"

_DYNAMIC_SCALAR_KINDS = {"int", "float", "str", "bool", "datetime", "date"}


class _DynamicMarker:
    """Sentinel returned by value_type for mixed scalar columns."""


def _infer_memory_schema(rows: list[dict]):
    """Schema for a list-of-dicts memory table, replacing Spark's sampling
    inference: scans EVERY row (the reference's memorySource sees all rows
    too), keeps first-seen column order, types all-null columns as void,
    and widens int+float to double. Nested dicts (struct columns) union
    their keys across ALL rows — a key present only in a later row is
    still a struct field (the reference's JS objects are per-row dynamic).
    Columns mixing scalar JS types (int+string, bool+int, …) become
    JSON-text STRING columns tagged with DYNAMIC_COL_META; only
    non-scalar mixes (list+int etc.) still raise TypeError."""
    from pyspark.sql import types as T

    if not rows or not all(isinstance(r, dict) for r in rows):
        raise TypeError("memory table must be a non-empty list of dicts")

    def value_type(values: list):
        """Type of a column/element given EVERY non-null value it holds."""
        vals = [v for v in values if v is not None]
        kinds = {_py_kind(v) for v in vals}
        if not kinds:
            return T.NullType()
        # bool is an int subclass in Python; keep it distinct like SQL does
        if kinds <= {"int"}:
            return T.LongType()
        if kinds <= {"int", "float"}:
            return T.DoubleType()
        if kinds == {"bool"}:
            return T.BooleanType()
        if kinds == {"str"}:
            return T.StringType()
        if kinds <= {"bytes", "bytearray"}:
            return T.BinaryType()
        if kinds == {"datetime"}:
            return T.TimestampType()
        if kinds == {"date"}:
            return T.DateType()
        if kinds == {"Decimal"}:
            return T.DecimalType(38, 18)
        if kinds <= {"list", "tuple"}:
            elems = [x for v in vals for x in v]
            et = value_type(elems)
            if et is _DynamicMarker:
                raise TypeError(
                    f"mixed dynamic ARRAY element types {sorted(kinds)}"
                )
            return T.ArrayType(et)
        if kinds == {"dict"}:
            return T.StructType(_infer_memory_schema(vals).fields)
        if kinds <= _DYNAMIC_SCALAR_KINDS:
            return _DynamicMarker  # mixed scalars → JSON-text string
        raise TypeError(f"mixed dynamic column types {sorted(kinds)}")

    cols: list[str] = []
    values: dict[str, list] = {}
    for r in rows:
        for k, v in r.items():
            if k not in values:
                cols.append(k)
                values[k] = []
            values[k].append(v)

    fields = []
    for c in cols:
        vt = value_type(values[c])
        if vt is _DynamicMarker:
            fields.append(
                T.StructField(
                    c, T.StringType(), True, metadata={DYNAMIC_COL_META: True}
                )
            )
        else:
            fields.append(T.StructField(c, vt, True))
    return T.StructType(fields)


def _dynamic_json_text(v):
    """JSON-text encoding of a dynamic-column value: numbers/bools render
    as JSON literals ('10', 'false'), strings quoted ('"10"' — so the
    string '10' stays distinct from the number 10), datetimes as quoted
    ISO strings. ``json.dumps(float)`` uses repr, so doubles round-trip
    exactly."""
    import datetime as _dt
    import json as _json

    if v is None:
        return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        return _json.dumps(v.isoformat())
    return _json.dumps(v)


def _coerce_row(row: dict, schema) -> tuple:
    """Dict row → tuple in schema order, converted to exactly the
    inferred field type, as the Arrow build in ``qutil.local_df`` needs:
    ints widen to float in double fields, naive datetimes become
    UTC-aware read in the process-local zone (the reading Spark's row
    path gave them), decimals round half-up to the field's scale (as
    Spark's row path did)."""
    import datetime as _dt
    import decimal as _decimal

    from pyspark.sql import types as T

    def conv(v, ft):
        if v is None:
            return None
        if isinstance(ft, T.DoubleType):
            return float(v)
        if isinstance(ft, T.LongType):
            return int(v)
        if isinstance(ft, T.TimestampType):
            return v.astimezone(_dt.timezone.utc)
        if isinstance(ft, T.DecimalType):
            return v.quantize(
                _decimal.Decimal(1).scaleb(-ft.scale),
                rounding=_decimal.ROUND_HALF_UP,
                context=_decimal.Context(prec=ft.precision),
            )
        if isinstance(ft, T.ArrayType):
            return [conv(x, ft.elementType) for x in v]
        if isinstance(ft, T.StructType):
            return _coerce_row(v, ft)
        if isinstance(ft, T.BinaryType) and isinstance(v, bytearray):
            return bytes(v)
        return v

    out = []
    for f in schema.fields:
        v = row.get(f.name)
        if f.metadata and f.metadata.get(DYNAMIC_COL_META):
            out.append(_dynamic_json_text(v))
        else:
            out.append(conv(v, f.dataType))
    return tuple(out)


def _register_tables(spark: SparkSession, tables: dict[str, Any]) -> None:
    for name, source in tables.items():
        if isinstance(source, DataFrame):
            df = source
        elif isinstance(source, str):
            # Path to parquet/csv/json by extension.
            if source.endswith(".csv"):
                df = spark.read.option("header", "true").csv(source)
            elif source.endswith(".json") or source.endswith(".jsonl"):
                df = spark.read.json(source)
            else:
                df = spark.read.parquet(source)
        elif isinstance(source, list):
            # list-of-dicts in-memory table (reference memorySource,
            # src/backend/dataSource.js:29-71). Every row is typed by
            # _infer_memory_schema (all-null columns as void, which
            # Spark's sampler would reject) and loaded through
            # qutil.local_df as an Arrow-built LocalRelation, so scans
            # of the table never start Python workers.
            schema = _infer_memory_schema(source)
            df = local_df(
                spark, [_coerce_row(r, schema) for r in source], schema
            )
        else:
            raise TypeError(f"unsupported table source for {name!r}: {type(source)}")
        df.createOrReplaceTempView(name)


def extract_tables(spark: SparkSession, query: str) -> list[str]:
    """Table names referenced by the query (reference ``extractTables``).
    Reference-dialect syntax Spark's parser rejects (POSITIONAL JOIN,
    JSON_EACH in FROM, ``123n``) falls through to the textual scan, so
    the same queries ``execute_sql`` accepts stay extractable."""
    names: list[str] = []
    parse_exc: Exception | None = None
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(query)
    except Exception as exc:
        parse_exc = exc
        plan = None

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls in ("UnresolvedRelation",):
            names.append(node.tableName())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())
        # subqueries live in expressions; cheap fallback below handles them

    if plan is not None:
        try:
            walk(plan)
        except Exception:
            pass
    if not names:
        # Textual fallback (subquery relations live inside expressions the
        # plan walk above doesn't reach): strip comments first so keywords
        # inside them can't match, skip string literals, and honor quoted
        # identifiers ("name" / `name`).
        import re

        from squirreling_spark.functions.sqldialect import _string_mask

        stripped = re.sub(r"--[^\n]*", " ", query)
        stripped = re.sub(r"/\*.*?\*/", " ", stripped, flags=re.S)
        mask = _string_mask(stripped)
        pat = re.compile(
            r"(?:\bfrom|\bjoin)\s+"
            r"([A-Za-z_][\w.]*|\"[^\"]+\"|`[^`]+`)",
            re.I,
        )
        names = []
        for m in pat.finditer(stripped):
            if mask[m.start()]:
                continue  # inside a string literal
            name = m.group(1)
            if name.startswith(('"', "`")):
                name = name[1:-1]
            elif name.lower() in ("select", "lateral", "values", "unnest"):
                continue  # FROM (SELECT ...) and table functions
            elif re.match(r"\s*\(", stripped[m.end():]):
                continue  # table function call (JSON_EACH(...), range(...))
            names.append(name)
        if not names and parse_exc is not None:
            raise ValueError(f"parse error: {parse_exc}") from parse_exc
    seen, out = set(), []
    for n in names:
        if n.lower() not in seen:
            seen.add(n.lower())
            out.append(n)
    return out


def parse_sql(spark: SparkSession, query: str) -> bool:
    """Parse-only validation (reference ``parseSql``). Raises on bad SQL."""
    spark._jsparkSession.sessionState().sqlParser().parsePlan(query)
    return True


def plan_sql(spark: SparkSession, query: str, mode: str = "formatted") -> str:
    """Optimized + physical plan text (reference ``planSql``)."""
    df = spark.sql(query)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@dataclass
class QueryResult:
    """Streaming result handle (reference QueryResults: columns / rows() /
    numRows, src/types.d.ts:11-16)."""

    df: DataFrame
    job_group: str
    _spark: SparkSession = field(repr=False, default=None)

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def _enter_group(self) -> None:
        # Job groups are thread-local: attach the group in the thread that
        # actually submits the job, so cancel() from any thread reaches it.
        self._spark.sparkContext.setJobGroup(
            self.job_group, "squirreling query", interruptOnCancel=True
        )

    def rows(self, prefetch: bool = True) -> Iterator[dict[str, Any]]:
        """Lazy row iterator — executes partition-by-partition like the
        reference's pull-based AsyncRow stream."""
        self._enter_group()
        for row in self.df.toLocalIterator(prefetchPartitions=prefetch):
            yield row.asDict(recursive=True)

    def collect(self) -> list[dict[str, Any]]:
        self._enter_group()
        return [r.asDict(recursive=True) for r in self.df.collect()]

    def num_rows(self) -> int:
        self._enter_group()
        return self.df.count()

    def cancel(self) -> None:
        """Cooperative cancellation (reference AbortSignal semantics)."""
        self._spark.sparkContext.cancelJobGroup(self.job_group)


def execute_sql(
    spark: SparkSession,
    query: str,
    tables: dict[str, Any] | None = None,
    functions: dict[str, FunctionSpec] | None = None,
    cache_tables: list[str] | None = None,
    like_mode: str = "ansi",
    pos_order: dict[str, list[str]] | None = None,
    ident_quotes: str = "spark",
    strict: bool = False,
) -> QueryResult:
    """Run SQL over a per-query table namespace with optional scalar UDFs —
    the reference's ``executeSql({tables, query, functions})``.

    ``strict=True`` opts into the reference's REJECTIONS as well as its
    acceptances: function arity/type validation, cast-target and interval
    allowlists, join-shape and LATERAL VIEW rules, window-vs-GROUP-BY
    exclusion (functions/sqlstrict.py — ported from the reference's
    src/validation/functions.js and parse-layer checks). Statically
    decidable rules raise StrictDialectError before planning; per-row
    value rules (SUBSTRING start from a column) compile to JVM-side
    raise_error branches. Default stays loose: Spark is a deliberate
    SUPERSET of the reference's accepted surface.

    Reference-dialect syntax is accepted directly: ``POSITIONAL JOIN``,
    FROM-clause ``JSON_EACH(expr)``, and ``123n`` BigInt literals are
    pre-parse rewritten onto the Spark operator implementations
    (functions/sqldialect.py); ``like_mode="ci"`` opts into the
    reference's case-insensitive LIKE (src/expression/binary.js:57-66).

    ``cache_tables`` memoizes the named tables across queries
    (``df.cache()`` — the reference's cachedDataSource cell memoization,
    src/backend/dataSource.js:80-129, at DataFrame granularity)."""
    from squirreling_spark.functions.sqldialect import rewrite_reference_sql

    from squirreling_spark.functions.sqlregistry import (
        register_reference_functions,
    )

    register_reference_functions(spark)
    # Strict validation runs on the PRE-rename text with the PRE-rename
    # table keys: the reference rejects `FROM dataset.parquet` unquoted
    # even when "dataset.parquet" is a flat table-map key, and the rename
    # shim below would erase exactly that evidence.
    orig_query, orig_tables = query, tables
    if tables:
        # Names Spark can't hold in a temp view (dots: ``dataset.parquet``
        # is a FLAT name in the reference's table map, not a schema path)
        # register under a safe name; the query text is rewritten to match
        # in quoted ("..."/`...`) and bare FROM/JOIN positions.
        import hashlib
        import re as _re

        renames = {
            name: "__sq_tbl_" + hashlib.md5(name.encode()).hexdigest()[:10]
            for name in tables
            if not _re.fullmatch(r"[A-Za-z_]\w*", name)
        }
        if renames:
            tables = {renames.get(k, k): v for k, v in tables.items()}
            for orig, safe in renames.items():
                for pat in (f'"{orig}"', f"`{orig}`"):
                    query = query.replace(pat, safe)
                query = _re.sub(
                    r"(\bFROM\s+|\bJOIN\s+|,\s*)"
                    + _re.escape(orig)
                    + r"(?=[\s,)]|$)",
                    lambda m: m.group(1) + safe,
                    query,
                )
        _register_tables(spark, tables)
    for name in cache_tables or []:
        spark.catalog.cacheTable(name)
    if functions:
        register_functions(spark, functions)
    if strict:
        from squirreling_spark.functions.sqlstrict import (
            strict_guards,
            validate_reference_sql,
        )

        validate_reference_sql(
            orig_query, spark=spark, tables=orig_tables,
            functions=functions,
        )
    query = rewrite_reference_sql(
        query, spark=spark, like_mode=like_mode, pos_order=pos_order,
        ident_quotes=ident_quotes,
    )
    if strict:
        query = strict_guards(query)

    job_group = f"squirreling-{uuid.uuid4().hex[:12]}"
    spark.sparkContext.setJobGroup(job_group, query[:200], interruptOnCancel=True)
    try:
        df = spark.sql(query)
    except Exception as exc:
        msg = str(exc)
        # Reference-style loose GROUP BY: retry once with non-aggregated
        # bare select columns wrapped in any_value (sqldialect.loosen_group_by)
        if "MISSING_AGGREGATION" in msg or "MISSING_GROUP_BY" in msg:
            from squirreling_spark.functions.sqldialect import loosen_group_by

            loose = loosen_group_by(query, spark=spark)
            if loose is not None:
                try:
                    return QueryResult(
                        spark.sql(loose), job_group, _spark=spark
                    )
                except Exception:  # noqa: BLE001 — report the original
                    pass
        # Reference alias-chaining shapes Spark rejects: GROUP BY on a
        # chained select alias (lateral-column-alias) and select aliases
        # nested inside ORDER BY aggregates. Retry with the aliases
        # inlined (sqldialect.inline_select_aliases).
        if (
            "LATERAL_COLUMN_ALIAS_IN_GROUP_BY" in msg
            or "MISSING_ATTRIBUTES" in msg
        ):
            from squirreling_spark.functions.sqldialect import (
                inline_select_aliases,
            )

            inlined = inline_select_aliases(query)
            if inlined is not None:
                try:
                    return QueryResult(
                        spark.sql(inlined), job_group, _spark=spark
                    )
                except Exception:  # noqa: BLE001 — report the original
                    pass
        # Reference resolution order: a dotted ref `a.b` matches a FLAT
        # column literally named "a.b" before table-qualification
        # (reference test/execute/execute.dot.test.js). Spark resolves
        # table.column only — when that fails and the suggestion list
        # shows the flat name exists, retry with the ref backtick-quoted.
        if "UNRESOLVED_COLUMN" in msg:
            import re as _re

            um = _re.search(r"name `((?:[^`]+`\.`)*[^`]+)` cannot", msg)
            if um:
                dotted = um.group(1).replace("`.`", ".")
                if "." in dotted and f"`{dotted}`" in msg:
                    retry = _re.sub(
                        r"(?<![`\w])" + _re.escape(dotted) + r"(?![`\w])",
                        f"`{dotted}`",
                        query,
                    )
                    if retry != query:
                        try:
                            return QueryResult(
                                spark.sql(retry), job_group, _spark=spark
                            )
                        except Exception:  # noqa: BLE001
                            pass
        first = msg.splitlines()[0]
        pos = _position_of(exc, query)
        # Reference-shaped structured errors (validation/tables.js:166-211,
        # validation/parseErrors.js:105-178): Table/Column not found carry
        # the available-name lists; unknown functions carry did-you-mean
        # suggestions ranked by prefix + edit distance.
        if "TABLE_OR_VIEW_NOT_FOUND" in msg:
            import re as _re

            tm = _re.search(r"`([^`\s]+)`(?:\s*,)?\s+cannot be found", msg)
            bad = tm.group(1).split("`.`")[-1] if tm else "?"
            if orig_tables:
                available = list(orig_tables)
            else:
                available = sorted(
                    t.name for t in spark.catalog.listTables()
                    if t.isTemporary
                )
            raise TableNotFoundError(
                f'Table "{bad}" not found. Available tables: '
                + ", ".join(available),
                pos,
            ) from exc
        if "UNRESOLVED_COLUMN" in msg:
            import re as _re

            def _cols_of(v) -> list[str]:
                if hasattr(v, "columns"):
                    return list(v.columns)
                if isinstance(v, list) and v:
                    return list(v[0].keys())
                return []

            cm = _re.search(r"name `((?:[^`]+`\.`)*[^`]+)` cannot", msg)
            bad = cm.group(1).replace("`.`", ".") if cm else "?"
            # a column reference inside FROM/JOIN UNNEST(...) is a
            # correlation the reference rejects with guidance
            # (execute.unnest tests, verbatim)
            for um in _re.finditer(
                r"\b(?:FROM|JOIN|,)\s*UNNEST\s*\(", orig_query, _re.I
            ):
                open_idx = orig_query.index("(", um.end() - 1)
                depth, j = 0, open_idx
                while j < len(orig_query):
                    if orig_query[j] == "(":
                        depth += 1
                    elif orig_query[j] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                span = orig_query[open_idx: j + 1]
                if _re.search(
                    r"(?<![\w.])" + _re.escape(bad) + r"(?![\w.])", span
                ):
                    raise ColumnNotFoundError(
                        f'UNNEST argument cannot reference column "{bad}"'
                        " — use JOIN UNNEST(...) to reference columns "
                        "from another table",
                        pos,
                    ) from exc
            available: list[str] = []
            if orig_tables:
                if "." in bad:
                    # reference resolves a qualified ref against ITS
                    # table (alias or name) and lists that table's
                    # columns; the message carries the bare column
                    qual, bare = bad.rsplit(".", 1)
                    target = None
                    if qual in orig_tables:
                        target = qual
                    else:
                        am = _re.search(
                            r"\b(?:FROM|JOIN)\s+([A-Za-z_]\w*)\s+"
                            r"(?:AS\s+)?" + _re.escape(qual) + r"\b",
                            orig_query, _re.I,
                        )
                        if am and am.group(1) in orig_tables:
                            target = am.group(1)
                    if target is not None:
                        available = _cols_of(orig_tables[target])
                        bad = bare
                if not available:
                    scoped = [
                        t for t in orig_tables
                        if _re.search(
                            r"\b(?:FROM|JOIN)\s+[\"`]?" + _re.escape(t)
                            + r"[\"`]?(?![\w.])",
                            orig_query, _re.I,
                        )
                    ] or list(orig_tables)
                    for t in scoped:
                        for c in _cols_of(orig_tables[t]):
                            if c not in available:
                                available.append(c)
            if available:
                raise ColumnNotFoundError(
                    f'Column "{bad}" not found. Available columns: '
                    + ", ".join(available),
                    pos,
                ) from exc
            if orig_tables is not None:
                raise ColumnNotFoundError(
                    f'Column "{bad}" not found', pos
                ) from exc
            raise ColumnNotFoundError(first, pos) from exc
        if "CANNOT_RESOLVE_STAR_EXPAND" in msg:
            import re as _re

            from squirreling_spark.functions.sqlstrict import (
                _visible_tables,
            )

            sm = _re.search(r"Cannot resolve `([^`]+)`\.?\*", msg)
            star = sm.group(1).replace("`.`", ".") if sm else "?"
            vis = ", ".join(_visible_tables(orig_query, orig_tables))
            raise TableNotFoundError(
                f'Table "{star}" not found in "{star}.*". '
                f"Available tables: {vis}",
                pos,
            ) from exc
        if "UNRESOLVED_ROUTINE" in msg:
            import re

            from squirreling_spark.functions.sqlstrict import (
                suggest_functions,
            )

            m = re.search(r"routine `?(\w+)`?", msg)
            bad = m.group(1) if m else "?"
            # Word-boundary + call-paren match so the position is the
            # CALL site, not a longer identifier containing the name
            # (e.g. "SELECT myupperx, upperx(a)" — r9 advice).
            call = re.search(
                r"\b" + re.escape(bad) + r"\s*\(", orig_query, re.I
            )
            qpos = (
                call.start() if call else orig_query.upper().find(bad.upper())
            )
            at = f" at position {qpos}" if qpos >= 0 else ""
            extra = [r.name for r in spark.catalog.listFunctions()]
            sugg = suggest_functions(bad, extra=extra)
            if sugg:
                raise UnknownFunctionError(
                    f'Unknown function "{bad}"{at}. Did you mean '
                    + ", ".join(sugg) + "?",
                    pos,
                ) from exc
            raise UnknownFunctionError(
                f'Unknown function "{bad}"{at}.', pos
            ) from exc
        if "DATATYPE_MISMATCH" in msg and "cannot cast" in msg:
            import re as _re

            cast_m = _re.search(
                r'cannot cast "([A-Z_]+)[^"]*" to "([A-Z_]+)', msg
            )
            if cast_m and cast_m.group(1) in ("STRUCT", "MAP"):
                tgt = {"INT": "INTEGER", "BOOLEAN": "BOOL"}.get(
                    cast_m.group(2), cast_m.group(2)
                )
                raise QueryError(
                    f"Cannot CAST object to {tgt}", pos
                ) from exc
        raise
    return QueryResult(df=df, job_group=job_group, _spark=spark)


# camelCase aliases matching the reference export names
executeSql = execute_sql
parseSql = parse_sql
planSql = plan_sql
extractTables = extract_tables
