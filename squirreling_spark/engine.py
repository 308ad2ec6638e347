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

import hashlib
import os
import pickle
import re
import threading
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from squirreling_spark.functions.registry import FunctionSpec, register_functions
from squirreling_spark.qutil import local_df
from squirreling_spark.tables import _signature, _source


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


def _unquote(name: str) -> str:
    """A Spark message parameter's quoted name (`` `t`.`c` ``) as
    ``t.c``."""
    return name.strip("`").replace("`.`", ".")


def _type_name(sql_type: str) -> str:
    """Leading type word of a Spark message parameter's quoted SQL type
    (``"STRUCT<a: INT>"`` → ``STRUCT``)."""
    return re.match(r'"?([A-Z_]*)', sql_type).group(1)


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
# this StructField metadata marker. One walker,
# sqldialect._rewrite_dynamic_refs, reads every use of such a column
# through the JS coercion of its position (numeric for aggregates, ORDER
# BY, arithmetic and < >; loose == for = <> IN BETWEEN; truthiness for
# WHERE/ON/HAVING and AND/OR/NOT; decoded for CAST), all defined in
# sqldialect._dyn_view. Reference: the memorySource's per-row dynamic JS
# values (src/backend/dataSource.js:29-71).
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


# The session attribute holding its execute_sql namespace (one per
# SparkSession object, as sqlregistry tags its function pack).
_NAMESPACE = "_squirreling_namespace"


@dataclass
class _Entry:
    """One table name's relation in a session's execute_sql namespace,
    kept under ``key``: the path and its ``tables._signature`` for a
    parquet path; the inferred schema and a digest of the coerced rows
    for a memory table, whose ``rows`` are kept too for ``numbered``."""

    key: tuple
    df: DataFrame
    schema: Any
    rows: list | None = None
    _numbered: DataFrame | None = None

    def numbered(self) -> DataFrame:
        """The memory table's rows with their 1-based list index in
        ``_RN`` (the reference zips arrays by index), built once."""
        if self._numbered is None:
            from pyspark.sql import types as T

            from squirreling_spark.operators.positional_join import _RN

            schema = T.StructType(
                self.schema.fields + [T.StructField(_RN, T.LongType(), False)]
            )
            self._numbered = local_df(
                self.df.sparkSession,
                [r + (i,) for i, r in enumerate(self.rows, 1)],
                schema,
            )
        return self._numbered


def _namespace(spark: SparkSession) -> dict[str, _Entry]:
    """The session's execute_sql namespace: {table name: _Entry}."""
    ns = getattr(spark, _NAMESPACE, None)
    if ns is None:
        ns = {}
        setattr(spark, _NAMESPACE, ns)
    return ns


def _parquet_entry(spark: SparkSession, ns: dict, name: str, path: str):
    """The namespace's relation for ``name`` over the parquet ``path``,
    read again (its schema inferred once per file state, as
    ``tables.source`` does) when the path's signature changed."""
    key = os.path.abspath(path)
    signature = _signature(spark, key)
    entry = ns.get(name)
    if signature is not None and entry is not None and entry.key == (
        key, signature
    ):
        return entry
    df, schema = _source(spark, path, signature)
    entry = _Entry((key, signature), df, schema)
    if signature is not None:
        ns[name] = entry
    return entry


def _memory_entry(spark: SparkSession, ns: dict, name: str, rows: list):
    """The namespace's relation for ``name`` over the list-of-dicts
    ``rows`` (reference memorySource, src/backend/dataSource.js:29-71),
    built again when its inferred schema or coerced rows changed: an
    in-place change to the list is a miss. Every row is typed by
    _infer_memory_schema (all-null columns as void, which Spark's
    sampler would reject) and loaded through qutil.local_df as an
    Arrow-built LocalRelation, so scans of the table never start Python
    workers."""
    schema = _infer_memory_schema(rows)
    coerced = [_coerce_row(r, schema) for r in rows]
    # pickle tells apart what == would not (0.0 and -0.0)
    digest = hashlib.blake2b(pickle.dumps(coerced, protocol=5)).digest()
    entry = ns.get(name)
    if entry is None or entry.key != (schema, digest):
        entry = _Entry((schema, digest), local_df(spark, coerced, schema),
                       schema, coerced)
        ns[name] = entry
    return entry


def _register_tables(spark: SparkSession, tables: dict[str, Any]) -> dict:
    """Register each table-map entry as a temp view under its own name
    and return {table name: schema} — the namespace the dialect rewrites
    resolve column references against. Memory tables and parquet paths
    reuse the relation the session's namespace built for that name in an
    earlier call while its rows or file state are unchanged; the view
    is registered on every call, so the call's map wins over a view
    registered in between. A name that is not a plain identifier
    (``dataset.parquet`` is one flat name in the reference's table map)
    registers backtick-quoted; the rewrite quotes it in the query text
    to match (``sqldialect._quote_table_names``)."""
    ns = _namespace(spark)
    schemas = {}
    for name, source in tables.items():
        schema = None
        if isinstance(source, DataFrame):
            df = source
        elif isinstance(source, str):
            # Path to parquet/csv/json by extension.
            if source.endswith(".csv"):
                df = spark.read.option("header", "true").csv(source)
            elif source.endswith(".json") or source.endswith(".jsonl"):
                df = spark.read.json(source)
            else:
                entry = _parquet_entry(spark, ns, name, source)
                df, schema = entry.df, entry.schema
        elif isinstance(source, list):
            entry = _memory_entry(spark, ns, name, source)
            df, schema = entry.df, entry.schema
        else:
            raise TypeError(f"unsupported table source for {name!r}: {type(source)}")
        plain = re.fullmatch(r"[A-Za-z_]\w*", name)
        df.createOrReplaceTempView(
            name if plain else "`" + name.replace("`", "``") + "`"
        )
        schemas[name] = df.schema if schema is None else schema
    return schemas


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
        # identifiers ("name" / `name`); table functions and subqueries
        # are not tables.
        from squirreling_spark.functions.sqldialect import _from_items

        stripped = re.sub(r"--[^\n]*", " ", query)
        stripped = re.sub(r"/\*.*?\*/", " ", stripped, flags=re.S)
        names = [it.name for it in _from_items(stripped) if it.kind == "table"]
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
    description: str
    _spark: SparkSession = field(repr=False, default=None)

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def _enter_group(self) -> None:
        # Job groups are thread-local: attach the group in the thread that
        # actually submits the job, so cancel() from any thread reaches it.
        self._spark.sparkContext.setJobGroup(
            self.job_group, self.description, interruptOnCancel=True
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

    Names resolve against the columns of the call's tables (the snapshot
    ``_register_tables`` returns), which the not-found errors list. A flat
    column "a.b" written ``a.b`` is quoted (strict mode rejects it); the
    GROUP BY shapes Spark rejects are retried once
    (``sqldialect.inline_select_aliases``).

    Table names are flat, as in the reference's table map: a key such as
    ``dataset.parquet`` is one name, not a schema path. It registers as
    the temp view `` `dataset.parquet` ``, and the query may name it bare
    in FROM/JOIN position, as ``"dataset.parquet"`` or as
    `` `dataset.parquet` ``: the rewrite backtick-quotes the FROM items
    and ``"..."`` identifiers that name it, never a string literal.

    Each SparkSession keeps one execute_sql namespace, one entry per
    table name, as the reference's cachedDataSource memoizes its sources
    (src/backend/dataSource.js:80-129). A memory table's Arrow-built
    relation is reused while its inferred schema and coerced rows are
    unchanged (an in-place change to the list is a miss); a parquet
    path's relation is reused while its file state and parquet settings
    are (``tables.source`` infers the schema once per such state, so no
    call over an unchanged file runs a schema-inference job). CSV/JSON
    paths and DataFrames are registered as given. The views are
    registered on every call, so the call's map wins over views
    registered in between; UDFs likewise (``register_functions``
    compiles each name and spec once per session). A POSITIONAL JOIN
    side that is a memory table without a ``pos_order`` key is numbered
    by list index on the driver. Rows are never cached unless asked:
    ``cache_tables`` memoizes the named tables' data across queries
    (``df.cache()`` — the reference's cachedDataSource cell memoization,
    src/backend/dataSource.js:80-129, at DataFrame granularity) until
    ``spark.catalog.clearCache()``."""
    from squirreling_spark.functions.sqldialect import (
        drop_scratch_views,
        ref_resolution_cache,
        rewrite_reference_sql,
    )
    from squirreling_spark.functions.sqlregistry import (
        register_reference_functions,
    )

    register_reference_functions(spark)
    views = _register_tables(spark, tables) if tables is not None else None
    for name in cache_tables or []:
        spark.catalog.cacheTable(name)
    if functions:
        register_functions(spark, functions)
    ns = _namespace(spark)
    numbered = {
        name.lower(): ns[name].numbered
        for name, source in (tables or {}).items()
        if isinstance(source, list)
    }
    # Column references resolve against the call's table map only (no
    # map: one snapshot of the session's temp views), in the rewrites
    # and in the retry alike.
    with ref_resolution_cache(views or None, numbered):
        if strict:
            from squirreling_spark.functions.sqlstrict import (
                strict_guards,
                validate_reference_sql,
            )

            validate_reference_sql(
                query, spark=spark, tables=tables, functions=functions
            )
        rewritten = rewrite_reference_sql(
            query, spark=spark, like_mode=like_mode, pos_order=pos_order,
            ident_quotes=ident_quotes,
        )
        if strict:
            rewritten = strict_guards(rewritten)

        job_group = f"squirreling-{uuid.uuid4().hex[:12]}"
        description = rewritten[:200]
        spark.sparkContext.setJobGroup(
            job_group, description, interruptOnCancel=True
        )
        try:
            df = _analyze(spark, rewritten, query, views)
            return QueryResult(df, job_group, description, _spark=spark)
        finally:
            # every statement built from the text is analyzed by now
            drop_scratch_views(spark, rewritten)


def _analyze(
    spark: SparkSession,
    query: str,
    orig_query: str,
    views: dict | None,
) -> DataFrame:
    """spark.sql the rewritten statement, retrying once the reference's
    GROUP BY and alias shapes Spark rejects
    (``sqldialect.inline_select_aliases``), and map analysis errors onto
    the reference's error types. ``orig_query`` is the caller's text and
    ``views`` the call's resolution snapshot ({table name: schema} of its
    table map; None without one): the not-found errors list its names."""
    try:
        df = spark.sql(query)
    except Exception as exc:
        from squirreling_spark.functions import sqldialect, sqlstrict

        msg = str(exc)
        # Dispatch on Spark's error condition (``A.B``) and read names from
        # its message parameters: the message text also embeds the
        # analyzed plan, literals included.
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        cond = set(cond.split("."))
        params = getattr(exc, "getMessageParameters", lambda: None)() or {}
        if cond & {
            "MISSING_AGGREGATION", "MISSING_GROUP_BY",
            "LATERAL_COLUMN_ALIAS_IN_GROUP_BY", "MISSING_ATTRIBUTES",
        }:
            retry = sqldialect.inline_select_aliases(query, spark)
            if retry is not None:
                try:
                    return spark.sql(retry)
                except Exception:  # noqa: BLE001 — report the original
                    pass
        first = msg.splitlines()[0]
        pos = _position_of(exc, query)
        # Reference-shaped structured errors (validation/tables.js:166-211,
        # validation/parseErrors.js:105-178): Table/Column not found carry
        # the available-name lists; unknown functions carry did-you-mean
        # suggestions ranked by prefix + edit distance.
        if "TABLE_OR_VIEW_NOT_FOUND" in cond:
            bad = _unquote(params.get("relationName", "?")).split(".")[-1]
            available = list(views or sqldialect.session_temp_views(spark))
            raise TableNotFoundError(
                f'Table "{bad}" not found. Available tables: '
                + ", ".join(available),
                pos,
            ) from exc
        if "UNRESOLVED_COLUMN" in cond:
            bad = _unquote(params.get("objectName", "?"))
            # a column reference inside FROM/JOIN UNNEST(...) is a
            # correlation the reference rejects with guidance
            # (execute.unnest tests, verbatim)
            items = sqldialect._from_items(orig_query)
            ref = re.compile(r"(?<![\w.])" + re.escape(bad) + r"(?![\w.])")
            for it in items:
                if (
                    it.kind == "call" and it.name == "UNNEST"
                    and not it.lateral and ref.search(", ".join(it.args))
                ):
                    raise ColumnNotFoundError(
                        f'UNNEST argument cannot reference column "{bad}"'
                        " — use JOIN UNNEST(...) to reference columns "
                        "from another table",
                        pos,
                    ) from exc
            if views is None:
                raise ColumnNotFoundError(first, pos) from exc
            tables = [it for it in items if it.kind == "table"]
            named = {it.name.lower() for it in tables}
            scoped = [t for t in views if t.lower() in named] or list(views)
            if "." in bad:
                # reference resolves a qualified ref against ITS table
                # (alias or name) and lists that table's columns; the
                # message carries the bare column
                qual, bare = bad.rsplit(".", 1)
                target = qual if qual in views else next((
                    it.name for it in tables
                    if (it.alias or "").lower() == qual.lower()
                ), None)
                if target in views:
                    scoped, bad = [target], bare
            available: list[str] = []
            for t in scoped:
                available += [
                    f.name for f in views[t].fields if f.name not in available
                ]
            if available:
                raise ColumnNotFoundError(
                    f'Column "{bad}" not found. Available columns: '
                    + ", ".join(available),
                    pos,
                ) from exc
            raise ColumnNotFoundError(f'Column "{bad}" not found', pos) from exc
        if "CANNOT_RESOLVE_STAR_EXPAND" in cond:
            star = _unquote(params.get("targetString", "?"))
            vis = sqlstrict._visible_tables(orig_query, views)
            raise TableNotFoundError(
                f'Table "{star}" not found in "{star}.*". '
                f"Available tables: {', '.join(vis)}",
                pos,
            ) from exc
        if "UNRESOLVED_ROUTINE" in cond:
            bad = _unquote(params.get("routineName", "?"))
            # the position is the CALL site: not a longer identifier
            # containing the name ("SELECT myupperx, upperx(a)"), not a
            # string literal
            name = bad.upper()
            calls = sqldialect._iter_calls(orig_query, {name})
            qpos = next((c[1] for c in calls), orig_query.upper().find(name))
            at = f" at position {qpos}" if qpos >= 0 else ""
            extra = [r.name for r in spark.catalog.listFunctions()]
            sugg = sqlstrict.suggest_functions(bad, extra=extra)
            if sugg:
                raise UnknownFunctionError(
                    f'Unknown function "{bad}"{at}. Did you mean '
                    + ", ".join(sugg) + "?",
                    pos,
                ) from exc
            raise UnknownFunctionError(
                f'Unknown function "{bad}"{at}.', pos
            ) from exc
        if "DATATYPE_MISMATCH" in cond and any(
            c.startswith("CAST_") for c in cond
        ):
            src = _type_name(params.get("srcType", ""))
            if src in ("STRUCT", "MAP"):
                tgt = _type_name(params.get("targetType", ""))
                tgt = {"INT": "INTEGER", "BOOLEAN": "BOOL"}.get(tgt, tgt)
                raise QueryError(
                    f"Cannot CAST object to {tgt}", pos
                ) from exc
        raise
    return df


# camelCase aliases matching the reference export names
executeSql = execute_sql
parseSql = parse_sql
planSql = plan_sql
extractTables = extract_tables
