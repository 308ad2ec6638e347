"""Reference-dialect SQL front end: a pre-parse rewrite of the query TEXT
so SQL written for the reference engine runs through
``engine.execute_sql`` unchanged, mapped onto Spark built-ins and the
operator implementations that already exist
(`operators/positional_join.py`, `operators/json_each.py`).

Every pass reads one quote- and bracket-aware scan of the text
(``_scan``): a construct inside a string literal is never rewritten, and
text whose brackets do not balance is left for Spark to report.
``rewrite_reference_sql`` runs, in order:

1. table names that are not plain identifiers backtick-quoted
   (``_quote_table_names``), ANSI ``"ident"`` quoting
   (``ident_quotes="ansi"``) and DuckDB-style FROM-first queries;
2. wish-list operator sugar (syntax.md): JSON arrows ``->``/``->>``,
   ``GLOB``, Postgres ``~``, ``* EXCLUDE``, ``DISTINCT ON``;
3. reference-derived names for unaliased select items (alias.js,
   ``_namer``), built from the value reader before any function rewrite
   changes the text;
4. array literals ``[1, 2]``, then FROM items via ``_from_items``:
   correlated ``UNNEST`` counts, the table functions
   ``_TABLE_FUNCTIONS`` (``UNNEST``/``EXPLODE``, ``JSON_EACH``:
   src/execute/execute.js:160-242), Spark's spelling of the lateral
   views ``LATERAL EXPLODE``/``UNNEST`` and ``POSITIONAL JOIN``
   (src/parse/joins.js:219-241, a row-position zip);
5. the date calls, ``_DATE_CALLS`` (src/expression/date.js);
6. with a session, the dtype-directed rewrites: subscripts that are NULL
   by static type, each read of a dynamic column in its position's view
   (``_rewrite_dynamic_refs``), array-family guards, LEN/LENGTH of arrays,
   auto-stringify and CAST (first, ``WHERE (b)`` loses its brackets);
7. ``||`` re-associated below ``+`` (src/parse/expression.js:11-12);
8. the function calls, ``_FUNCTION_CALLS`` (renames and argument-shape
   fixes), then typed literals, ``FORTNIGHT`` intervals, order-less rank
   windows and ``x ± INTERVAL n MONTH`` (``x`` the value before the
   sign);
9. BigInt literals ``123n`` (src/parse/tokenize.js:49-57) and, with
   ``like_mode="ci"``, case-insensitive LIKE
   (src/expression/binary.js:57-66).

Function calls go through one walker, ``_rewrite_calls(q, table)``, over
one call iterator, ``_iter_calls``, which strict validation
(``sqlstrict``) reads too. A new function rewrite is one entry in the
table of the stage it belongs to: the call's upper-cased name mapped to
a function from its arguments to the replacement text (None leaves the
call alone), or to a plain new name. FROM clauses are read by one
reader, ``_from_items`` (tables, table-function calls, subqueries and
``LATERAL VIEW`` clauses with their join keywords, aliases, column-alias
lists and ON predicates), which ``sqlstrict`` and ``engine`` read too; a
new FROM-clause table function is one entry in ``_TABLE_FUNCTIONS``.
Statement clauses are read by one reader, ``_selects`` (each SELECT's
items and aliases and its FROM, WHERE, GROUP BY, HAVING, ORDER BY,
LIMIT and OFFSET spans), and CTEs by ``_ctes``; windows by ``_windows``
(each call's ``OVER (...)`` with its PARTITION BY, ORDER BY and frame
spans) and values by ``_chains`` (an identifier, literal, call or
group, then its subscripts, ``.name`` fields and JSON arrows, read
forward as the reference's primary.js does), the source of derived
column names and of the ``± INTERVAL`` operand. ``sqlstrict`` reads
them too. The rewriter is not a full parser; it targets the
reference's tested query shapes.

Semantics notes (documented divergences, all at the type edge where a
dynamically-typed JS engine meets SQL):

- JSON_EACH emits ``key``/``value`` as STRING on both the object and array
  arms (the reference yields JS numbers for array indices / numeric
  values; one SQL column needs one type). Numeric comparisons still work
  through Spark's implicit casts; aggregate with an explicit CAST.
- JSON_EACH of NULL / invalid / scalar JSON yields zero rows (the
  reference raises on invalid input; ``from_json`` is forgiving).
- POSITIONAL JOIN output order follows each input's physical row order
  (same caveat as DuckDB: meaningful for freshly-scanned sorted sources);
  at 100 TB the numbering is the window-free two-level scheme of
  ``operators/positional_join.py`` — no single-task global window.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import threading
import uuid
from typing import NamedTuple

from pyspark.sql import SparkSession

from squirreling_spark.operators.positional_join import _RN, _with_rn

# Runtime object-vs-array dispatch for JSON_EACH: one expression yielding
# array<struct<key,value>> that `inline` / LATERAL VIEW explodes JVM-side
# (no Python boundary; scales linearly like operators/json_each.py).
_JE_DISPATCH = (
    "CASE WHEN ({x}) IS NULL THEN "
    "CAST(array() AS array<struct<key:string,value:string>>) "
    "WHEN startswith(ltrim(CAST(({x}) AS STRING)), '[') THEN "
    "transform(from_json(CAST(({x}) AS STRING), 'array<string>'), "
    "(v, i) -> struct(CAST(i AS STRING) AS key, v AS value)) "
    "ELSE transform(map_entries(from_json(CAST(({x}) AS STRING), "
    "'map<string,string>')), e -> struct(e.key AS key, e.value AS value)) "
    "END"
)


class _Scan(NamedTuple):
    """Quoting and bracket nesting of one SQL text (see ``_scan``)."""

    mask: bytes  # mask[i] is 1 where char i sits inside a quoted region
    depth: tuple[int, ...]  # depth[i]: brackets open just before char i
    partner: tuple[int, ...]  # index of the matching bracket, or -1


# A quoted region ('...' with '' escapes, "..." and `...` identifiers; an
# unterminated one runs to the end of the text) or one bracket.
_SCAN_RE = re.compile(r"'(?:[^']|'')*'?|\"[^\"]*\"?|`[^`]*`?|[()\[\]]")
_OPENER = {")": "(", "]": "["}


@functools.lru_cache(maxsize=64)
def _scan(q: str) -> _Scan:
    """The one quote- and bracket-aware pass over SQL text that every
    text-level rewrite and check reads. Brackets are ``()`` and ``[]``
    outside quoted regions; a closer pairs with the innermost open
    bracket when that is of its kind. A closer that does not (a stray
    or mismatched one) and an opener never closed get no partner, so
    callers leave such text for Spark to report. ``depth`` has
    ``len(q) + 1`` entries and counts only the open brackets on that
    stack. Cached: rewrites scan the same text many times."""
    n = len(q)
    mask = bytearray(n)
    depth = [0] * (n + 1)
    partner = [-1] * n
    stack: list[int] = []
    filled = 0
    for m in _SCAN_RE.finditer(q):
        i, ch = m.start(), m.group()
        if len(ch) > 1 or ch in "'\"`":
            mask[i : m.end()] = b"\x01" * (m.end() - i)
            continue
        depth[filled : i + 1] = [len(stack)] * (i + 1 - filled)
        filled = i + 1
        if ch in "([":
            stack.append(i)
        elif stack and q[stack[-1]] == _OPENER[ch]:
            partner[i] = stack.pop()
            partner[partner[i]] = i
    depth[filled:] = [len(stack)] * (n + 1 - filled)
    return _Scan(bytes(mask), tuple(depth), tuple(partner))


_CLOSER_RE = re.compile(r"[)\]]")


def _stmt_end(q: str, start: int) -> int:
    """Index where the statement containing ``start`` ends: the first
    closer at/after ``start`` that no bracket opened at/after ``start``
    matches (the enclosing subquery's close), else len(q)."""
    s = _scan(q)
    for m in _CLOSER_RE.finditer(q, start):
        if not s.mask[m.start()] and s.partner[m.start()] < start:
            return m.start()
    return len(q)


def _top_commas(q: str, start: int = 0, end: int | None = None) -> list[int]:
    """Outside-string commas in ``q[start:end]`` at the depth of
    ``start``."""
    s = _scan(q)
    end = len(q) if end is None else end
    out = []
    i = q.find(",", start, end)
    while i != -1:
        if not s.mask[i] and s.depth[i] == s.depth[start]:
            out.append(i)
        i = q.find(",", i + 1, end)
    return out


def _split_top_args(s: str) -> list[str]:
    """Split an argument list on top-level commas (string/bracket aware)."""
    bounds = [-1, *_top_commas(s), len(s)]
    return [s[a + 1 : b].strip() for a, b in zip(bounds, bounds[1:])]


_CALL_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\(")
_FILTER_RE = re.compile(r"\s*FILTER\s*\(", re.I)


def _call_parts(q: str, m: re.Match) -> tuple[list[str], int]:
    """Top-level arguments ([] for none) of the closed call ``m``
    (a ``_CALL_RE`` match) and the index just past its ``)``."""
    close = _scan(q).partner[m.end() - 1]
    args = _split_top_args(q[m.end() : close])
    return (args if args != [""] else []), close + 1


def _iter_calls(q: str, names=None):
    """Yield (name_upper, start, args, end) for every call outside
    strings whose parenthesis closes, left to right (only the calls
    named in ``names`` when given); ``end`` is the index just past the
    ``)``, for reading call suffixes (WITHIN GROUP / FILTER / OVER)."""
    partner = _scan(q).partner
    for m in _CALL_RE.finditer(q):
        name = m.group(1).upper()
        if names is not None and name not in names:
            continue
        if partner[m.end() - 1] < 0:
            continue  # quoted, or unbalanced: Spark will error
        args, end = _call_parts(q, m)
        yield name, m.start(), args, end


def _with_filter(build):
    """Mark a ``_rewrite_calls`` entry that also takes the call's trailing
    ``FILTER (...)`` clause."""
    build.with_filter = True
    return build


def _rewrite_calls(q: str, table: dict) -> str:
    """The one function-call rewrite. Every call (``_iter_calls``) whose
    upper-cased name is a key of ``table`` is replaced by
    ``table[NAME](args)``; a None result leaves the call alone. A str
    entry renames the call and keeps its argument text byte for byte. An
    entry marked ``_with_filter`` is called as ``build(args, clause)``,
    where ``clause`` is the raw ``FILTER (...)`` text after the call ('' if
    none), and its result replaces that clause too.

    Calls are visited right to left, each read from the current text: an
    enclosing call sees its arguments already rewritten, and replacement
    text is never rescanned, so an entry may emit its own name."""
    starts = [start for _, start, _, _ in _iter_calls(q, table)]
    for start in reversed(starts):
        m = _CALL_RE.match(q, start)
        build = table[m.group(1).upper()]
        if isinstance(build, str):
            q = q[:start] + build + "(" + q[m.end() :]
            continue
        args, end = _call_parts(q, m)
        if getattr(build, "with_filter", False):
            fm = _FILTER_RE.match(q, end)
            close = _scan(q).partner[fm.end() - 1] if fm else -1
            clause_end = close + 1 if close >= 0 else end
            repl = build(args, q[end:clause_end])
            end = clause_end
        else:
            repl = build(args)
        if repl is not None:
            q = q[:start] + repl + q[end:]
    return q


def _fixed(arity: int, template: str):
    """Table entry for a call rewritten only at one arity: the template's
    ``{0}``, ``{1}``, ... are the call's arguments."""
    return lambda args: template.format(*args) if len(args) == arity else None


# ---------------------------------------------------------------------------
# FROM items (reference src/parse/joins.js:16-293)
# ---------------------------------------------------------------------------

# Words that end a relation rather than alias it.
_NOT_ALIAS = frozenset({
    "AS", "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
    "OFFSET", "QUALIFY", "WINDOW", "UNION", "INTERSECT", "EXCEPT", "ON",
    "USING", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "OUTER",
    "NATURAL", "SEMI", "ANTI", "POSITIONAL", "LATERAL", "SORT", "CLUSTER",
    "DISTRIBUTE",
})
# Clauses and set operators: they end a FROM clause (and an ON
# predicate). A window() call is no WINDOW clause.
_CLAUSE_KW = (
    r"\b(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|QUALIFY"
    r"|WINDOW(?!\s*\()|UNION|INTERSECT|EXCEPT"
    r"|(?:SORT|CLUSTER|DISTRIBUTE)\s+BY)\b"
)
_JOIN_KW = (
    r"\b(?:NATURAL\s+)?(?:(?:(?:LEFT\s+)?(?:SEMI|ANTI)|(?:LEFT|RIGHT|FULL)"
    r"(?:\s+OUTER)?|INNER|CROSS|POSITIONAL)\s+)?JOIN\b"
)
_JOIN_RE = re.compile(r"\s*(" + _JOIN_KW + r")", re.I)
_ON_END_RE = re.compile(
    rf"{_JOIN_KW}|{_CLAUSE_KW}|\bLATERAL\s+VIEW\b|,", re.I
)
_IDENT = r"(?:[A-Za-z_]\w*|\"[^\"]*\"|`[^`]*`)"
_REL_NAME_RE = re.compile(rf"{_IDENT}(?:\s*\.\s*{_IDENT})*")
_LATERAL_RE = re.compile(r"\s*(LATERAL\b\s*)?", re.I)
_ALIAS_RE = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*(\()?", re.I)
_ON_RE = re.compile(r"\s*(ON\b|USING\s*\()\s*", re.I)
_COMMA_RE = re.compile(r"\s*,")
_LATERAL_VIEW_RE = re.compile(
    r"\s*(LATERAL\s+(VIEW\s+)?(OUTER\s+)?)(?=[A-Za-z_]\w*\s*\()", re.I
)
_VIEW_ALIAS_RE = re.compile(r"\s*([A-Za-z_]\w*)")
_VIEW_COLS_RE = re.compile(
    r"\s*(AS\s+)?([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)", re.I
)
# Calls whose arguments use FROM as a keyword, not as a clause.
_FROM_ARG_CALLS = (
    "EXTRACT", "TRIM", "SUBSTRING", "SUBSTR", "POSITION", "OVERLAY",
)
_DISTINCT_END_RE = re.compile(r"\bDISTINCT\s*$", re.I)


class _FromItem(NamedTuple):
    """One relation of a FROM clause (see ``_from_items``)."""

    kw: int  # start of the FROM, JOIN or LATERAL keywords or the comma
    # "FROM", ",", the join keywords ("LEFT JOIN") or, for a lateral
    # view, "LATERAL [VIEW] [OUTER]"; upper-cased
    join: str
    lateral: bool  # written after LATERAL
    start: int  # start of the relation text
    rel_end: int  # end of the name, or just past the call's/subquery's ")"
    kind: str  # "table", "call" or "subquery"
    name: str  # table name without quotes, upper-cased call name, or ""
    quoted: bool  # the table name was written in "..." or `...`
    args: tuple  # the call's arguments
    alias: str | None
    cols: tuple | None  # column-alias list: ``AS u(x, y)``
    end: int  # end of the relation with its alias and column list
    on: tuple | None  # (start, end) of the ON predicate, spaces trimmed


def _unquote_name(raw: str) -> str:
    """``"a"."b"``, `` `a.b` `` or ``a . b`` as ``a.b``."""
    parts = re.findall(_IDENT, raw)
    return ".".join(p[1:-1] if p[0] in "\"`" else p for p in parts)


def _from_keywords(q: str):
    """Start of every FROM that opens a FROM clause: outside strings, not
    ``IS [NOT] DISTINCT FROM`` and not among the arguments of a call that
    uses FROM as a keyword (EXTRACT, TRIM, SUBSTRING, ...)."""
    s = _scan(q)
    in_call = set()
    for _, start, _, end in _iter_calls(q, _FROM_ARG_CALLS):
        open_idx = q.index("(", start)
        in_call |= {
            m.start() for m in _FROM_KW.finditer(q, open_idx, end)
            if s.depth[m.start()] == s.depth[open_idx] + 1
        }
    for m in _FROM_KW.finditer(q):
        f = m.start()
        if not (s.mask[f] or f in in_call or _DISTINCT_END_RE.search(q, 0, f)):
            yield f


def _read_relation(q: str, kw: int, join: str, pos: int):
    """The relation after the FROM/JOIN keyword or comma that ends at
    ``pos``, and the index just past its ON or USING clause; None when
    no relation starts there."""
    s = _scan(q)
    lat = _LATERAL_RE.match(q, pos)
    start, name, quoted, args = lat.end(), "", False, ()
    if q.startswith("(", start) and s.partner[start] >= 0:
        kind, rel_end = "subquery", s.partner[start] + 1
    else:
        m = _REL_NAME_RE.match(q, start)
        if m is None or m.group().upper() in _NOT_ALIAS:
            return None
        call = _CALL_RE.match(q, start)
        if call and call.end() > m.end() and s.partner[call.end() - 1] >= 0:
            kind, name = "call", call.group(1).upper()
            args, rel_end = _call_parts(q, call)
            args = tuple(args)
        else:
            kind, name = "table", _unquote_name(m.group())
            quoted, rel_end = m.group()[0] in "\"`", m.end()
    alias, cols, end = None, None, rel_end
    am = _ALIAS_RE.match(q, rel_end)
    if am and am.group(1).upper() not in _NOT_ALIAS:
        alias, end = am.group(1), am.end(1)
        close = s.partner[am.end() - 1] if am.group(2) else -1
        if close >= 0:
            cols = tuple(c for c in _split_top_args(q[am.end() : close]) if c)
            end = close + 1
    on, after = None, end
    om = _ON_RE.match(q, end)
    if om and om.group(1).upper() == "ON":
        stop, d = _stmt_end(q, om.end()), s.depth[om.end()]
        stop = next((
            m.start() for m in _ON_END_RE.finditer(q, om.end(), stop)
            if not s.mask[m.start()] and s.depth[m.start()] == d
        ), stop)
        on = (om.end(), om.end() + len(q[om.end() : stop].rstrip()))
        after = on[1]
    elif om and s.partner[om.end(1) - 1] >= 0:
        after = s.partner[om.end(1) - 1] + 1  # USING (...)
    item = _FromItem(
        kw, join, bool(lat.group(1)), start, rel_end, kind, name, quoted,
        args, alias, cols, end, on,
    )
    return item, after


def _read_lateral_view(q: str, pos: int):
    """The ``LATERAL [VIEW] [OUTER] fn(args) alias [[AS] c1, c2]`` clause
    at ``pos`` and the index just past it; None when none starts there."""
    m = _LATERAL_VIEW_RE.match(q, pos)
    call = m and _CALL_RE.match(q, m.end())
    if not call or _scan(q).partner[call.end() - 1] < 0:
        return None
    args, rel_end = _call_parts(q, call)
    alias, cols, end = None, None, rel_end
    am = _VIEW_ALIAS_RE.match(q, end)
    if am and am.group(1).upper() not in _NOT_ALIAS:
        alias, end = am.group(1), am.end()
    cm = _VIEW_COLS_RE.match(q, end)
    if cm and (cm.group(1) or cm.group(2).split(",")[0].strip().upper()
               not in _NOT_ALIAS):
        cols = tuple(c.strip() for c in cm.group(2).split(","))
        end = cm.end()
    join = " ".join(m.group(1).upper().split())
    item = _FromItem(
        m.start(1), join, True, call.start(), rel_end, "call",
        call.group(1).upper(), False, tuple(args), alias, cols, end, None,
    )
    return item, end


@functools.lru_cache(maxsize=64)
def _from_items(q: str) -> tuple:
    """The one FROM-clause reader: every relation of every FROM clause
    outside strings, at any depth, as ``_FromItem``s — clause by clause
    in the order of their FROM keywords, each clause's relations in text
    order. A clause is FROM, then relations joined by commas or JOIN
    keywords, each with an optional alias (``_NOT_ALIAS`` words are not
    aliases), column-alias list and ON predicate (cut at the next join,
    comma or clause keyword of its statement) or USING list, then its
    lateral views: ``LATERAL [VIEW] [OUTER] fn(args) alias [[AS] c1,
    c2]``, each a "call" item whose ``join`` records VIEW and OUTER. The
    clause ends at anything else: a clause keyword, the end of its
    statement. Cached: the rewrites and checks of one text read it many
    times."""
    items = []
    for f in _from_keywords(q):
        kw, join, pos = f, "FROM", f + 4
        while (read := _read_relation(q, kw, join, pos)) is not None:
            item, pos = read
            items.append(item)
            if cm := _COMMA_RE.match(q, pos):
                kw, join, pos = cm.end() - 1, ",", cm.end()
            elif jm := _JOIN_RE.match(q, pos):
                kw, pos = jm.start(1), jm.end()
                join = " ".join(jm.group(1).upper().split())
            else:
                break
        while (read := _read_lateral_view(q, pos)) is not None:
            item, pos = read
            items.append(item)
    return tuple(items)


# ---------------------------------------------------------------------------
# SELECT statements and WITH lists (reference src/parse/parse.js:51-57,
# 110-181, 332-352, 391-419)
# ---------------------------------------------------------------------------

_HEAD_RE = re.compile(
    r"\bSELECT\b(?:\s+ALL\b|\s+DISTINCT\b(\s+ON\s*\()?)?", re.I
)
_STMT_KW_RE = re.compile(_CLAUSE_KW + "|;", re.I)
_SETOP_RE = re.compile(
    r"(?:UNION|INTERSECT|EXCEPT)\b(?:\s+(?:ALL|DISTINCT)\b)?", re.I
)
_ITEM_ALIAS_RE = re.compile(rf"\s+AS\s+({_IDENT})\s*$", re.I)


class _SelectItem(NamedTuple):
    """One top-level select item (see ``_selects``); spans are trimmed."""

    start: int
    expr_end: int  # end of the expression, before its ``AS name``
    end: int
    alias: str | None  # the explicit ``AS name``, as written


class _Select(NamedTuple):
    """One SELECT statement (see ``_selects``)."""

    start: int  # the SELECT keyword
    head_end: int  # just past SELECT [ALL | DISTINCT [ON (...)]]
    on: tuple | None  # (start, end) of the DISTINCT ON keys, brackets excluded
    items: tuple  # the top-level select items, as _SelectItem
    # clause name ("FROM", "WHERE", "GROUP BY", "ORDER BY", ...) →
    # (keyword start, body start, body end), the body trimmed
    clauses: dict
    end: int  # the set operator, ";" or closer that ends it, or len(q)


def _trim(q: str, a: int, b: int) -> tuple[int, int]:
    """``(a, b)`` with the whitespace at both ends of ``q[a:b]`` left out."""
    while a < b and q[a].isspace():
        a += 1
    while b > a and q[b - 1].isspace():
        b -= 1
    return a, b


@functools.lru_cache(maxsize=64)
def _selects(q: str) -> tuple:
    """The one statement reader: every SELECT outside strings, at any
    depth, as a ``_Select``, in text order. A statement runs to the first
    set operator or ``;`` at its own depth, else to the closer of its
    enclosing bracket. Its select list runs to its first FROM as
    ``_from_keywords`` finds it (so ``EXTRACT(YEAR FROM d)`` and ``IS
    DISTINCT FROM`` do not end it), else to its first clause keyword; the
    list splits into items at its top-level commas. Each clause (FROM,
    WHERE, GROUP BY, HAVING, QUALIFY, WINDOW, ORDER BY, LIMIT, OFFSET and
    Spark's SORT/CLUSTER/DISTRIBUTE BY) is cut at the next clause keyword
    at the statement's depth. Cached like ``_from_items``."""
    s = _scan(q)
    kws = [
        m for m in _STMT_KW_RE.finditer(q)
        if not s.mask[m.start()]
        # ``* EXCEPT (cols)`` is Spark's star exclusion, not a set operator
        and not q[: m.start()].rstrip().endswith("*")
    ]
    froms = list(_from_keywords(q))
    out = []
    for h in _HEAD_RE.finditer(q):
        p = h.start()
        if s.mask[p]:
            continue
        d, end = s.depth[p], _stmt_end(q, p)
        own = [
            m for m in kws if p < m.start() < end and s.depth[m.start()] == d
        ]
        end = next(
            (m.start() for m in own
             if m.group() == ";" or _SETOP_RE.match(m.group())),
            end,
        )
        on, head_end = None, h.end()
        close = s.partner[h.end() - 1] if h.group(1) else -1
        if close >= 0:
            on, head_end = _trim(q, h.end(), close), close + 1
        own = [m for m in own if head_end <= m.start() < end]
        frm = next(
            (f for f in froms if head_end <= f < end and s.depth[f] == d), -1
        )
        list_end = frm if frm != -1 else (own[0].start() if own else end)
        # (keyword start, body start, name) of each clause, in text order
        marks = [(frm, frm + 4, "FROM")] if frm != -1 else []
        marks += [
            (m.start(), m.end(), " ".join(m.group().upper().split()))
            for m in own if m.start() >= list_end
        ]
        clauses = {}
        for (kw, body, name), nxt in zip(marks, [m[0] for m in marks[1:]]
                                         + [end]):
            clauses.setdefault(name, (kw, *_trim(q, body, nxt)))
        items = []
        cuts = [head_end - 1, *_top_commas(q, head_end, list_end), list_end]
        for a, b in zip(cuts, cuts[1:]):
            a, b = _trim(q, a + 1, b)
            am = _ITEM_ALIAS_RE.search(q, a, b)
            cut, alias = (am.start(), am.group(1)) if am else (b, None)
            items.append(_SelectItem(a, cut, b, alias))
        out.append(_Select(p, head_end, on, tuple(items), clauses, end))
    return tuple(out)


def _stmt_of(q: str, pos: int):
    """The innermost statement (``_selects``) whose text holds ``pos``
    (its end included), or None."""
    holding = [sel for sel in _selects(q) if sel.start <= pos <= sel.end]
    return holding[-1] if holding else None


class _Cte(NamedTuple):
    """One common table expression of a WITH list (see ``_ctes``)."""

    name: str  # without quotes
    cols: tuple | None  # column list: ``c(x, y) AS (...)``
    open: int  # the "(" of its body
    close: int  # the ")" of its body


_WITH_RE = re.compile(r"\bWITH\s+(?:RECURSIVE\s+)?", re.I)
_CTE_NAME_RE = re.compile(rf"\s*({_IDENT})\s*(\()?")
_CTE_AS_RE = re.compile(r"\s*AS\s*(?:(?:NOT\s+)?MATERIALIZED\s*)?\(", re.I)


@functools.lru_cache(maxsize=64)
def _ctes(q: str) -> tuple:
    """The one WITH reader: every CTE of every WITH list outside strings,
    at any depth, in text order. A list is WITH [RECURSIVE], then
    ``name [(cols)] AS [[NOT] MATERIALIZED] (body)`` items joined by
    commas; it ends at anything else."""
    s = _scan(q)
    out = []
    for w in _WITH_RE.finditer(q):
        pos = w.end()
        while not s.mask[w.start()]:
            nm = _CTE_NAME_RE.match(q, pos)
            if nm is None:
                break
            cols, after = None, nm.end()
            if nm.group(2):
                close = s.partner[nm.end() - 1]
                if close < 0:
                    break
                cols = _split_top_args(q[nm.end() : close])
                cols, after = tuple(c for c in cols if c), close + 1
            am = _CTE_AS_RE.match(q, after)
            if am is None or s.partner[am.end() - 1] < 0:
                break
            close = s.partner[am.end() - 1]
            name = _unquote_name(nm.group(1))
            out.append(_Cte(name, cols, am.end() - 1, close))
            cm = _COMMA_RE.match(q, close + 1)
            if cm is None:
                break
            pos = cm.end()
    return tuple(out)


def _main_select(q: str):
    """The outermost statement: the first SELECT outside every CTE body
    (with set operations, their first branch), or None."""
    ctes = _ctes(q)
    return next(
        (
            sel for sel in _selects(q)
            if not any(c.open < sel.start < c.close for c in ctes)
        ),
        None,
    )


def _branches(q: str) -> list:
    """The set-operation branches of the outermost statement, in order
    (one for a plain SELECT). A branch may be written in brackets,
    ``(SELECT ...) UNION (SELECT ...)``: its set operator then follows
    the closer that ends it."""
    sel, out = _main_select(q), []
    while sel is not None:
        out.append(sel)
        k = sel.end
        while k < len(q) and (q[k].isspace() or q[k] == ")"):
            k += 1
        op = _SETOP_RE.match(q, k)
        if op is None:
            break
        sel = next((x for x in _selects(q) if x.start >= op.end()), None)
    return out


# ---------------------------------------------------------------------------
# Window specs: ``fn(args) OVER ([PARTITION BY ..] [ORDER BY ..] [frame])``
# ---------------------------------------------------------------------------

class _Window(NamedTuple):
    """One call with an ``OVER (spec)`` window (see ``_windows``); each
    clause is a trimmed (start, end) span, None when absent."""

    name: str  # the call's name, upper-cased
    start: int  # the call's start
    open: int  # the "(" after OVER
    close: int  # its ")"
    partition: tuple | None  # the PARTITION BY list
    order: tuple | None  # the ORDER BY list
    frame: tuple | None  # ROWS/RANGE/GROUPS to the end of the spec


_SPEC_KW_RE = re.compile(
    r"\b(?:(PARTITION|ORDER)\s+BY\b|(?:ROWS|RANGE|GROUPS)\s+"
    r"(?=BETWEEN\b|UNBOUNDED\b|CURRENT\b|INTERVAL\b|\d))",
    re.I,
)
_OVER_RE = re.compile(r"\s*(?:(?:IGNORE|RESPECT)\s+NULLS\s+)?OVER\s*\(", re.I)


def _spec(q: str, open_: int) -> tuple:
    """The (PARTITION BY, ORDER BY, frame) spans of the closed bracket
    opened at ``open_``, found at its own depth: a window spec, or a
    call's arguments (``array_agg(x ORDER BY y)``). Each clause runs to
    the next one or to the closer."""
    s = _scan(q)
    close, spans = s.partner[open_], {}
    marks = [
        m for m in _SPEC_KW_RE.finditer(q, open_ + 1, close)
        if not s.mask[m.start()] and s.depth[m.start()] == s.depth[open_] + 1
    ]
    for m, nxt in zip(marks, [m.start() for m in marks[1:]] + [close]):
        key = (m.group(1) or "").upper()
        spans.setdefault(key, _trim(q, m.end() if key else m.start(), nxt))
    return spans.get("PARTITION"), spans.get("ORDER"), spans.get("")


@functools.lru_cache(maxsize=64)
def _windows(q: str) -> tuple:
    """The one window reader: every call outside strings followed by
    ``[FILTER (...)] [IGNORE | RESPECT NULLS] OVER (spec)``, in text
    order, with its spec's clauses (``_spec``). A named window, ``OVER
    w``, has no spec and is not read. Cached like ``_from_items``."""
    if "OVER" not in q.upper():
        return ()
    partner = _scan(q).partner
    out = {}
    for name, start, _, end in _iter_calls(q):
        fm = _FILTER_RE.match(q, end)
        if fm and partner[fm.end() - 1] >= 0:
            end = partner[fm.end() - 1] + 1
        om = _OVER_RE.match(q, end)
        if om and partner[om.end() - 1] >= 0:
            o = om.end() - 1
            # setdefault: FILTER (...) reads as a call of its own too
            out.setdefault(
                o, _Window(name, start, o, partner[o], *_spec(q, o))
            )
    return tuple(out.values())


# ---------------------------------------------------------------------------
# Postfix chains: a value and its subscripts, fields and JSON arrows
# (reference src/parse/primary.js:33-64 reads ``arr[0].field`` the same
# way, base first)
# ---------------------------------------------------------------------------

class _Chain(NamedTuple):
    """One value with its postfix steps (see ``_chains``)."""

    start: int  # start of the base
    base_end: int  # end of the base
    kind: str  # "ident", "call", "group", "string" or "number"
    # (op, start, end) per step, op "[", ".", "->" or "->>"; an arrow's
    # span runs through its literal key
    steps: tuple
    holder: int  # the innermost bracket holding the chain, or -1


_CHAIN_TOKEN_RE = re.compile(
    r"'(?:[^']|'')*'?|\"[^\"]*\"?|`[^`]*`?|[A-Za-z_][\w$]*|\d[\w.]*|->>?"
    r"|[()\[\].]"
)
_BASE_RE = re.compile(
    r"'(?:[^']|'')*'|[(\[]|(?:[A-Za-z_][\w$]*|`[^`]*`)(?=(\())?"
    r"|\d+\.?\d*(?:[eE][+-]?\d+)?"
)
_STEP_RE = re.compile(
    r"\s*(\[)|\s*(->>?)\s*(?:'(?:[^']|'')*'|\d+)|\.[A-Za-z_][\w$]*"
)


def _chain(q: str, start: int, holder: int = -1):
    """The chain whose base starts at ``start`` — an identifier, a call
    written against its ``(``, a closed ``(..)`` group or ``[..]``
    literal, a string or a number — with every step after it: a
    subscript (not an array literal), a JSON arrow with a literal key
    (``->'k'``, ``->>0``) or ``.name``. None when no base starts there."""
    partner = _scan(q).partner
    m = _BASE_RE.match(q, start)
    if m is None:
        return None
    kind, end = "string" if q[start] == "'" else "ident", m.end()
    if q[start].isdigit():
        kind = "number"
    bracket = start if m.group() in "([" else end if m.group(1) else -1
    if bracket >= 0 and partner[bracket] >= 0:
        kind = "group" if bracket == start else "call"
        end = partner[bracket] + 1
    elif bracket == start:
        return None  # an unclosed group
    base_end, steps = end, []
    while m := _STEP_RE.match(q, end):
        if m.group(1):  # a subscript, unless the bracket opens a literal
            i = m.start(1)
            if partner[i] < 0 or _bracket_is_literal(q, i):
                break
            step = "[", i, partner[i] + 1
        elif m.group(2):
            step = m.group(2), m.start(2), m.end()
        else:
            step = ".", end, m.end()
        steps.append(step)
        end = step[2]
    return _Chain(start, base_end, kind, tuple(steps), holder)


@functools.lru_cache(maxsize=64)
def _chains(q: str) -> tuple:
    """The one value reader: every value outside strings (``_chain``),
    with or without steps, in text order, nested ones (in a call's
    arguments, a group, a subscript) included. A base never follows a
    ``.`` nor starts in an arrow's key, and a ``(`` written against a
    name opens its call's arguments. Cached like ``_from_items``."""
    s = _scan(q)
    out, holders, keys, prev = [], [], [], ""
    for m in _CHAIN_TOKEN_RE.finditer(q):
        tok, i = m.group(), m.start()
        if tok in ")]" and holders and s.partner[i] == holders[-1]:
            holders.pop()
        base = tok[0] in "'`_" or tok[0].isalnum() or (
            tok == "(" and not (i and (q[i - 1].isalnum() or q[i - 1] in "_$"))
            or tok == "[" and _bracket_is_literal(q, i)
        )
        if base and prev != "." and not any(a <= i < b for a, b in keys):
            ch = _chain(q, i, holders[-1] if holders else -1)
            if ch is not None:
                out.append(ch)
                keys += [(a, b) for op, a, b in ch.steps if op[0] == "-"]
        if tok in "([" and s.partner[i] >= 0:
            holders.append(i)
        prev = tok
    return tuple(out)


_LITERAL_BRACKET_KEYWORDS = {
    "SELECT", "WHERE", "WHEN", "THEN", "ELSE", "IN", "AND", "OR", "NOT",
    "ON", "BY", "HAVING", "RETURN", "AS", "FROM", "LIMIT", "OFFSET",
    "DISTINCT", "ALL", "UNION", "EXCEPT", "INTERSECT", "CASE", "END",
    "BETWEEN", "LIKE", "ILIKE", "IS", "NULL", "TRUE", "FALSE",
}


def _bracket_is_literal(q: str, i: int) -> bool:
    """True when the ``[`` at ``i`` opens an array literal, False when it
    subscripts the value before it (reference tokenize.js decides the
    same way as for unary minus: after an identifier, number, string,
    ``)`` or ``]`` a ``[`` is a subscript; after a keyword, an operator,
    ``(``, ``,`` or at the start it is a literal)."""
    j = i - 1
    while j >= 0 and q[j].isspace():
        j -= 1
    if j < 0:
        return True
    if q[j] in ")]'\"`":
        return False
    k = j
    while k >= 0 and (q[k].isalnum() or q[k] in "_$"):
        k -= 1
    if k == j:
        return True  # an operator or punctuation before the bracket
    return q[k + 1 : j + 1].upper() in _LITERAL_BRACKET_KEYWORDS


def _sub_outside_strings(q: str, pattern: re.Pattern, repl) -> str:
    """re.sub that skips matches starting inside string literals."""
    mask = _scan(q).mask
    out, last = [], 0
    for m in pattern.finditer(q):
        if mask[m.start()]:
            continue
        out.append(q[last : m.start()])
        out.append(repl(m))
        last = m.end()
    out.append(q[last:])
    return "".join(out)


_FROM_FIRST_RE = re.compile(r"^\s*FROM\b", re.I)


def _rewrite_from_first(q: str) -> str:
    """DuckDB-style FROM-first query (reference test/parse/parse.test.js:6
    — ``FROM tbl [WHERE ...]`` parses as ``SELECT * FROM tbl ...``)."""
    m = _FROM_FIRST_RE.match(q)
    if not m:
        return q
    return q[: m.start()] + "SELECT * " + q[m.end() - 4 :]


# A string literal, or a "..." identifier ("" escapes a quote) as group 1
_DQUOTE_RE = re.compile(r"'(?:[^']|'')*'?|\"((?:[^\"]|\"\")*)\"")


def _rewrite_double_quoted_idents(q: str) -> str:
    """ANSI double-quoted identifiers → Spark backticks (the reference
    treats ``"name with spaces"`` as an identifier, parse.test.js:267;
    Spark reads double quotes as string literals). Only applied under
    ``ident_quotes="ansi"`` — in the default dialect '"..."' stays a
    Spark string literal."""
    return _DQUOTE_RE.sub(
        lambda m: m.group() if m.group(1) is None else "`{}`".format(
            m.group(1).replace('""', '"').replace("`", "``")
        ),
        q,
    )


_BIGINT_RE = re.compile(r"(?<![\w$.])(\d+)n\b")


def _rewrite_bigint_literals(q: str) -> str:
    """``123n`` → ``CAST(123 AS BIGINT)`` (reference BigInt literal)."""
    return _sub_outside_strings(
        q, _BIGINT_RE, lambda m: f"CAST({m.group(1)} AS BIGINT)"
    )


_LIKE_RE = re.compile(r"\bLIKE\b", re.I)


def _rewrite_like_ci(q: str) -> str:
    """LIKE → ILIKE (the reference's default, binary.js:57-66)."""
    return _sub_outside_strings(q, _LIKE_RE, lambda m: "ILIKE")


# ---------------------------------------------------------------------------
# Production wish-list dialect (reference syntax.md:22-41 — the ranked
# DuckDB/Postgres habits the reference's users actually typed against it).
# Everything here is a text-level pre-parse rewrite onto Spark built-ins;
# argument-dependent rewrites (STRFTIME formats, GLOB patterns, JSON
# arrows) only fire on LITERAL arguments and otherwise leave the query
# untouched so the strict validator surfaces a real error.
# ---------------------------------------------------------------------------

# A lambda head: one parameter, or a bracketed list of them
_LAMBDA_HEAD_RE = re.compile(
    r"[A-Za-z_][\w.$]*|\(\s*[A-Za-z_]\w*(\s*,\s*[A-Za-z_]\w*)+\s*\)"
)


def _json_path(lit: str) -> str | None:
    """The JSON path of an arrow's literal key: ``0`` → ``$[0]``,
    ``'k'`` → ``$.k``, ``'$.a[1]'`` as written; None for a key that is
    no plain word."""
    if lit.isdigit():
        return f"$[{lit}]"
    key = lit[1:-1].replace("''", "'")
    if key.startswith("$"):
        return key
    return f"$.{key}" if re.fullmatch(r"\w+", key) else None


def _rewrite_json_arrows(q: str) -> str:
    """DuckDB/Postgres JSON arrows (syntax.md item 11): ``x->'k'`` →
    json_query, ``x->>'k'`` → json_value, ``x->0`` → ``$[0]`` paths;
    chains (``_chains``) rewrite left-associatively. Only literal
    string/int keys. A lambda (``v -> expr``) never has a literal body,
    but ``v -> 5`` does: a ``->`` with an integer key on a bare
    identifier or identifier list, directly after the ``(`` or a ``,``
    of a call's arguments, is a lambda head and left alone. ``->>`` is
    never one. Chains are visited right to left, each read from the
    current text, so a rewritten inner chain is part of its outer one."""
    partner = _scan(q).partner
    call_args = {partner[end - 1] for _, _, _, end in _iter_calls(q)}
    for found in reversed(_chains(q)):
        arrows = any(op[0] == "-" for op, _, _ in found.steps)
        if found.kind == "number" or not arrows:
            continue
        ch = _chain(q, found.start)
        text, last = q[ch.start : ch.base_end], ch.base_end
        for op, a, b in ch.steps:
            lit = q[a + len(op) : b].strip()
            path = _json_path(lit) if op[0] == "-" else None
            lambda_head = (
                op == "->" and lit.isdigit() and found.holder in call_args
                and _LAMBDA_HEAD_RE.fullmatch(text)
                and q[: ch.start].rstrip().endswith(("(", ","))
            )
            if path is None or lambda_head:
                text += q[last:b]
            else:
                fn = "json_value" if op == "->>" else "json_query"
                path = path.replace("'", "''")
                text = f"{fn}({text}, '{path}')"
            last = b
        q = q[: ch.start] + text + q[last:]
    return q


def _glob_to_rlike(pat: str) -> str:
    """Glob pattern → anchored Java regex (``*``→``.*``, ``?``→``.``,
    ``[!...]``→``[^...]`` classes kept, everything else escaped)."""
    out = ["^"]
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = pat.find("]", i + 2)  # ']' legal at class position 0
            if j == -1:
                out.append(re.escape(c))
            else:
                body = pat[i + 1 : j]
                if body.startswith("!"):
                    body = "^" + body[1:]
                out.append("[" + body + "]")
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    out.append("$")
    return "".join(out)


_GLOB_RE = re.compile(r"\bGLOB\s+('(?:[^']|'')*')", re.I)


def _rewrite_glob(q: str) -> str:
    """``x GLOB 'a*e'`` (syntax.md item 16) → anchored RLIKE; only
    literal patterns (a column-valued glob stays an error)."""
    def repl(m):
        raw = m.group(1)[1:-1].replace("''", "'")
        rx = _glob_to_rlike(raw)
        return "RLIKE '" + rx.replace("\\", "\\\\").replace("'", "''") + "'"

    return _sub_outside_strings(q, _GLOB_RE, repl)


_TILDE_RE = re.compile(r"!~\*|~\*|!~|~")
_TILDE_CI_RHS_RE = re.compile(r"\s*('(?:[^']|'')*')")

# words that can directly precede a unary ~ (SELECT ~5, WHERE ~x = -6, …)
_TILDE_UNARY_LEAD = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "BY",
    "ON", "HAVING", "CASE", "IN", "AS", "FROM", "JOIN", "SET", "VALUES",
    "RETURN", "DISTINCT", "ALL", "BETWEEN", "LIKE", "ILIKE", "RLIKE",
}


def _rewrite_tilde_ops(q: str) -> str:
    """Postgres regex-match operators (syntax.md item 16): binary ``~`` →
    RLIKE, ``!~`` → NOT RLIKE (partial-match Postgres semantics — Spark's
    RLIKE — not DuckDB's full-match ``~``). Case-insensitive ``~*`` /
    ``!~*`` fold a ``(?i)`` prefix into a literal RHS pattern; a
    non-literal RHS is left untouched (clean Spark parse error rather
    than a mangled ``RLIKE *``). Unary ``~`` (bitwise NOT) is left for
    Spark: binary context requires a value token on the left."""
    mask = _scan(q).mask
    hits = []
    for m in _TILDE_RE.finditer(q):
        if mask[m.start()]:
            continue
        lead = q[: m.start()].rstrip()
        if not lead or not (lead[-1].isalnum() or lead[-1] in ")]'_\""):
            continue
        wm = re.search(r"([A-Za-z_]\w*)$", lead)
        if wm and wm.group(1).upper() in _TILDE_UNARY_LEAD:
            continue
        hits.append(m)
    for m in reversed(hits):
        tok = m.group(0)
        op = " NOT RLIKE " if tok.startswith("!") else " RLIKE "
        if tok.endswith("*"):
            rm = _TILDE_CI_RHS_RE.match(q, m.end())
            if rm is None:
                continue  # non-literal RHS: leave the ~* untouched
            pat = "(?i)" + rm.group(1)[1:-1]
            q = q[: m.start()] + op + "'" + pat + "'" + q[rm.end():]
        else:
            q = q[: m.start()] + op + q[m.end():]
    return q


_EXCLUDE_RE = re.compile(
    r"(\*\s*)EXCLUDE\s*(\([^()]*\)|[A-Za-z_]\w*)", re.I
)


def _rewrite_exclude(q: str) -> str:
    """DuckDB ``SELECT * EXCLUDE (...)`` (syntax.md item 16) → Spark's
    native ``* EXCEPT (...)``."""
    return _sub_outside_strings(
        q,
        _EXCLUDE_RE,
        lambda m: m.group(1)
        + "EXCEPT "
        + (m.group(2) if m.group(2).startswith("(") else f"({m.group(2)})"),
    )


_FROM_KW = re.compile(r"\bFROM\b", re.I)


def _rewrite_distinct_on(q: str) -> str:
    """Postgres/DuckDB ``SELECT DISTINCT ON (keys) ...`` (syntax.md item
    16) → first-row-per-key via ROW_NUMBER: the ON keys partition, the
    statement's ORDER BY (or the keys themselves) ranks, rn=1 survives.
    Its ORDER BY, LIMIT and OFFSET stay on the outer query. Keys and
    ORDER BY must resolve against the FROM relations (not select-list
    aliases), which covers the production queries in the wish-list.
    Statements are visited right to left, each read from the current
    text, so a rewrite never moves a statement still to visit."""
    starts = [sel.start for sel in _selects(q) if sel.on]
    for start in reversed(starts):
        sel = next(x for x in _selects(q) if x.start == start)
        keys = q[sel.on[0] : sel.on[1]]
        if not keys or "FROM" not in sel.clauses:
            continue
        end = len(q[: sel.end].rstrip())  # the spaces after it stay
        cut = min(
            [sel.clauses[c][0] for c in ("ORDER BY", "LIMIT", "OFFSET")
             if c in sel.clauses] or [end]
        )
        frombody = q[sel.clauses["FROM"][0] : cut].rstrip()
        tail = q[cut:end]
        order = sel.clauses.get("ORDER BY")
        win_order = q[order[1] : order[2]] if order else keys
        items = q[sel.head_end : sel.clauses["FROM"][0]].strip()
        if items == "*":
            items = "* EXCEPT (__sq_don)"
        q = (
            q[:start]
            + f"SELECT {items} FROM (SELECT *, ROW_NUMBER() OVER "
            f"(PARTITION BY {keys} ORDER BY {win_order}) AS __sq_don "
            f"{frombody}) WHERE __sq_don = 1{' ' + tail if tail else ''}"
            + q[end:]
        )
    return q


def _rewrite_wishlist(q: str) -> str:
    """Apply the syntax.md wish-list rewrites that are token/operator
    level (function-shaped items live in _rewrite_function_dialect)."""
    up = q.upper()
    if "->" in q:
        q = _rewrite_json_arrows(q)
    if "GLOB" in up:
        q = _rewrite_glob(q)
    if "~" in q:
        q = _rewrite_tilde_ops(q)
    if "EXCLUDE" in up:
        q = _rewrite_exclude(q)
    if "DISTINCT" in up and re.search(r"\bDISTINCT\s+ON\b", q, re.I):
        q = _rewrite_distinct_on(q)
    return q


# Column references resolve against ONE snapshot, {view name: schema},
# held for the duration of a rewrite. engine.execute_sql installs the
# call's own table map as that snapshot (engine._register_tables returns
# it), so a bare name can only match a table the statement was given —
# never a view an earlier call left in the session. Without a map the
# session's temp views are snapshotted on first use through the JVM
# session catalog (_session_view_schemas: no Spark job, no re-analysis).
_REF_CACHE = threading.local()


@contextlib.contextmanager
def ref_resolution_cache(
    views: dict | None = None, numbered: dict | None = None
):
    """Resolve column references inside the block against one snapshot.
    ``views`` ({view name: schema}) is the namespace when given, and
    ``numbered`` ({lower-cased table name: callable}) gives the tables
    of that namespace whose row positions are known on the driver: the
    callable returns the table with its 1-based position in ``_RN``.
    Otherwise an enclosing block's snapshot is reused, or the session's
    temp views are snapshotted on first use — multi-statement digests
    wrap their statements so that one snapshot serves them all, which is
    only safe while the wrapped statements leave the temp-view set alone
    (the POSITIONAL JOIN scratch views keep the snapshot current)."""
    outer = getattr(_REF_CACHE, "c", None)
    if views is None and outer is not None:
        yield
        return
    _REF_CACHE.c = {} if views is None else {"views": dict(views)}
    _REF_CACHE.c["numbered"] = numbered or {}
    try:
        yield
    finally:
        _REF_CACHE.c = outer


def session_temp_views(spark) -> list[str]:
    """Sorted names of the session's local temp views, read from the JVM
    session catalog. The public Catalog API's ``listTables()`` answers
    the same question through ``toLocalIterator`` over a DataFrame, which
    costs 5 Spark jobs per call; this runs none."""
    it = (
        spark._jsparkSession.sessionState().catalog()
        .listLocalTempViews("*").iterator()
    )
    names = []
    while it.hasNext():
        names.append(it.next().table())
    return names


def _session_view_schemas(spark) -> dict:
    """{view name: schema} for the session's temp views, read from each
    view's already-analyzed plan (``sq_dynamic`` metadata included)."""
    from py4j.protocol import Py4JError
    from pyspark.sql import types as T

    catalog = spark._jsparkSession.sessionState().catalog()
    views = {}
    for name in session_temp_views(spark):
        try:
            plan = catalog.getTempView(name).get()
        except Py4JError:  # dropped since the listing: skip it
            continue
        views[name] = T.StructType.fromJson(json.loads(plan.schema().json()))
    return views


def _resolution_views(spark) -> dict:
    """The active snapshot, taken now if the block has none yet; a
    one-off session snapshot outside any block."""
    c = getattr(_REF_CACHE, "c", None)
    if c is None:
        return _session_view_schemas(spark)
    if "views" not in c:
        c["views"] = _session_view_schemas(spark)
    return c["views"]


def _snapshot(spark) -> dict | None:
    """The resolution snapshot (``_resolution_views``), or None when
    there is neither a session to take it from nor an active one."""
    c = getattr(_REF_CACHE, "c", None)
    if spark is None and not (c and "views" in c):
        return None
    return _resolution_views(spark)


# A simple column reference: ``col``, ``tbl.col`` or ```tbl.name`.col``.
_REF_RE = re.compile(
    r"(?:([A-Za-z_]\w*)|`([^`]+)`)\.([A-Za-z_]\w*)|[A-Za-z_]\w*"
)
_PLAIN_NAME_RE = re.compile(r"[A-Za-z_]\w*")


def _quote_table_names(q: str, spark) -> str:
    """Backtick every table name of the resolution snapshot that is not a
    plain identifier (``dataset.parquet`` is one flat name in the
    reference's table map, not a schema path) where the text names it:
    as a FROM item (bare, ``"quoted"`` or dotted) and as a ``"..."``
    identifier anywhere outside string literals. The views are registered
    under the same backtick-quoted names (engine._register_tables)."""
    if "." not in q and '"' not in q:
        return q
    names = {
        n for n in _snapshot(spark) or ()
        if not _PLAIN_NAME_RE.fullmatch(n)
    }
    if not names:
        return q
    edits = {
        it.start: it.rel_end for it in _from_items(q)
        if it.kind == "table" and it.name in names and q[it.start] != "`"
    }
    for m in _SCAN_RE.finditer(q):
        text = m.group()
        quoted = len(text) > 1 and text[0] == text[-1] == '"'
        if quoted and text[1:-1] in names:
            edits[m.start()] = m.end()
    for start in sorted(edits, reverse=True):
        name = _unquote_name(q[start : edits[start]])
        q = q[:start] + "`" + name.replace("`", "``") + "`" + q[edits[start] :]
    return q


def _ref_field(spark, ref: str):
    """StructField of a simple column reference (``col`` or ``tbl.col``)
    in the resolution snapshot, or None when it can't be resolved
    (expression args, unknown tables). A bare name matches the first
    view that has it."""
    m = _REF_RE.fullmatch(ref)
    views = None if m is None else _snapshot(spark)
    if views is None:
        return None
    table, col = m.group(1) or m.group(2) or "", m.group(3) or ref
    if table:
        # view names are case-insensitive, as in Spark's catalog
        schemas = [s for n, s in views.items() if n.lower() == table.lower()]
    else:
        schemas = views.values()
    for schema in schemas:
        for f in schema.fields:
            if f.name == col:
                return f
    return None


def _ref_dtype(spark, ref: str):
    """DataType of a simple column reference (see ``_ref_field``)."""
    f = _ref_field(spark, ref)
    return None if f is None else f.dataType


def _is_dynamic_ref(spark, ref: str) -> bool:
    """True when ``ref`` resolves to a JSON-text DYNAMIC column (a
    memory-table column that mixed scalar JS types — engine.py tags the
    StructField with DYNAMIC_COL_META)."""
    f = _ref_field(spark, ref.strip())
    return bool(f is not None and f.metadata.get("sq_dynamic"))


def _from_scope(q: str, tables) -> set[str]:
    """Table names and aliases visible to dotted references: the names
    in ``tables``, FROM items, column aliases of table functions and
    CTE names. A base name with an alias is HIDDEN (both the reference
    and Spark reject ``FROM users u ... users.id``)."""
    scope = set(tables or {})
    aliased_bases: set[str] = set()
    unaliased: set[str] = set()
    for it in _from_items(q):
        if it.kind == "table":
            (aliased_bases if it.alias else unaliased).add(it.name)
        if it.alias or it.kind == "table":
            scope.add(it.alias or it.name)
        # `UNNEST(..) AS u(x, y)` and `LATERAL VIEW .. v AS x` expose x/y
        scope.update(it.cols or ())
    scope.update(c.name for c in _ctes(q))
    # an aliased base name is hidden even when it is a table-map key —
    # unless the same table is ALSO referenced unaliased elsewhere
    return scope - (aliased_bases - unaliased)


def _unscoped_dotted(q: str, spark) -> list:
    """The values ``a.b`` (``_chains`` whose first step is a field) whose
    unquoted head names no table, alias, CTE or struct column in scope of
    the snapshot: the reference reads them as a flat column "a.b" (exact
    names first, src/expression/evaluate.js:112-123)."""
    from pyspark.sql import types as T

    scope = _from_scope(q, _snapshot(spark))
    return [
        ch for ch in _chains(q)
        if ch.kind == "ident" and ch.steps and ch.steps[0][0] == "."
        and q[ch.start] != "`" and q[ch.start : ch.base_end] not in scope
        and not isinstance(
            _ref_dtype(spark, q[ch.start : ch.base_end]), T.StructType
        )
    ]


def _quote_flat_dotted(q: str, spark) -> str:
    """Backtick each unscoped ``a.b`` (``_unscoped_dotted``) that names a
    flat column of a FROM table, as the reference resolves it. Returns at
    once when no snapshot column name holds a dot."""
    views = _snapshot(spark) if "." in q else None
    flat = {
        (n.lower(), f.name) for n, s in (views or {}).items()
        for f in s.fields if "." in f.name
    }
    if not flat:
        return q
    tables = {it.name.lower() for it in _from_items(q) if it.kind == "table"}
    for ch in reversed(_unscoped_dotted(q, spark)):
        name = q[ch.start : ch.steps[0][2]]
        if any((t, name) in flat for t in tables):
            q = q[: ch.start] + f"`{name}`" + q[ch.steps[0][2] :]
    return q


def _dyn_view(ref: str, view: str, arg: str = "") -> str:
    """The one definition of the reference's JS coercions on a dynamic
    column (JSON text; ``dec`` strips a string member's quotes):
    ``numeric`` is JS ``Number()`` with NaN read as NULL (booleans too);
    ``loose`` is the side of a JS ``==`` against a value of kind ``arg``:
    against a string the decoded text, against a number the numeric view
    with a boolean member as 1 or 0 (JS ``true == 1``) and any other
    non-numeric member as NaN, equal to no number (a NULL member stays
    NULL); ``truthy`` is JS truthiness (null, false, 0 and '' are
    falsy, any other string is truthy); ``decoded`` is ``CAST(ref AS
    arg)``, a numeric member cast to TIMESTAMP being epoch ms."""
    dec = f"get_json_object({ref}, '$')"
    num = f"TRY_CAST({dec} AS DOUBLE)"
    if view == "numeric":
        return num
    if view == "loose":
        return dec if arg == "string" else (
            f"CASE WHEN {ref} IS NOT NULL THEN coalesce({num},"
            f" CASE {ref} WHEN 'true' THEN 1.0D WHEN 'false' THEN 0.0D END,"
            " CAST('NaN' AS DOUBLE)) END")
    if view == "truthy":
        return (f"(CASE WHEN {ref} IS NULL OR {ref} IN ('null','false','\"\"')"
                f" THEN FALSE WHEN {ref} NOT LIKE '\"%' AND {num} IS NOT NULL"
                f" THEN {num} <> 0.0D ELSE TRUE END)")
    if arg == "TIMESTAMP":
        return (f"CASE WHEN {ref} NOT LIKE '\"%' AND {num} IS NOT NULL"
                f" THEN timestamp_millis(CAST({num} AS BIGINT))"
                f" ELSE CAST({dec} AS TIMESTAMP) END")
    return f"CAST({dec} AS {arg})"


# ---------------------------------------------------------------------------
# Array literals: [1, 2, 3] → array(1, 2, 3)
# ---------------------------------------------------------------------------

def _rewrite_array_literals(q: str) -> str:
    """``[...]`` in literal position (a ``[..]`` value, ``_chains``) →
    ``array(...)``, nested literals included. Subscripts (``arr[2]``,
    ``m[1][0]``) and brackets without a partner are untouched."""
    chars = list(q)
    for ch in _chains(q):
        if ch.kind == "group" and q[ch.start] == "[":
            chars[ch.start], chars[ch.base_end - 1] = "array(", ")"
    return "".join(chars)


# ---------------------------------------------------------------------------
# FROM-clause table functions: UNNEST / EXPLODE (reference
# src/execute/execute.js:160-242) and JSON_EACH (execute.js:193-242)
# ---------------------------------------------------------------------------


def _rewrite_items(q: str, starts, rewrite) -> str:
    """Right to left over the FROM items starting at ``starts``, each read
    from the current text: ``q = rewrite(q, items, i)`` with
    ``items[i]`` the item. A rewrite edits its own item and text to its
    right, so the items still to visit keep their positions."""
    for start in sorted(set(starts), reverse=True):
        items = _from_items(q)
        i = next((i for i, it in enumerate(items) if it.start == start), None)
        if i is not None:
            q = rewrite(q, items, i)
    return q


def _on_true(q: str, it) -> bool:
    return it.on is not None and q[it.on[0] : it.on[1]].upper() == "TRUE"


def _fold_into_where(q: str, pos: int, pred: str) -> str:
    """AND ``pred`` into the WHERE of the statement containing ``pos``
    (in its FROM clause), adding a WHERE where it has none."""
    sel = _stmt_of(q, pos)
    if "WHERE" in sel.clauses:
        at = sel.clauses["WHERE"][0] + 5
        return q[:at] + f" ({pred}) AND" + q[at:]
    at = min([c[0] for c in sel.clauses.values() if c[0] > pos] or [sel.end])
    return q[:at] + f" WHERE {pred} " + q[at:]


def _unnest_from(q: str, it: _FromItem, spark) -> str:
    """UNNEST/EXPLODE onto Spark explode:

    - ``FROM UNNEST(arr) [AS t]`` → derived table, column ``unnest``
      (``EXPLODE`` names it ``explode``): the reference names the output
      column after the function (execute.js:168-181); ``AS t(x)`` names
      it ``x``. Struct elements also spread their fields as columns, so
      ``t.field`` resolves (test/execute/execute.unnest.test.js).
    - ``<t> [LEFT|INNER|CROSS] JOIN [LATERAL] UNNEST(expr) AS u[(x)]`` and
      ``<t>, UNNEST(expr) AS u`` → ``LATERAL VIEW [OUTER] explode(expr)``;
      without a column list the element column takes the alias name, so
      ``u.field`` resolves as struct access. An inner join's ON predicate
      folds into the statement's WHERE (lateral + filter).
    - RIGHT/FULL joins stay untouched: the reference rejects them on
      table functions and Spark's error stands in."""
    from pyspark.sql import types as T

    if not it.args or "RIGHT" in it.join or "FULL" in it.join:
        return q  # zero-arg: left for Spark to reject, as the reference does
    arg = ", ".join(it.args)
    if arg.upper() == "NULL":
        # UNNEST(NULL) yields zero rows; explode(NULL) won't type-check
        arg = "CAST(NULL AS ARRAY<INT>)"
    col = it.cols[0] if it.cols else None
    if it.join == "FROM":
        colname = col or it.name.lower()
        alias = it.alias or f"__sq_un_{uuid.uuid4().hex[:8]}"
        body = f"SELECT explode({arg}) AS {colname}"
        dt = _ref_dtype(spark, arg)
        if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, T.StructType
        ):
            inner = f"__sq_ue_{uuid.uuid4().hex[:8]}"
            body = (
                f"SELECT {inner}.{colname} AS {colname},"
                f" {inner}.{colname}.* FROM ({body}) {inner}"
            )
        return q[: it.start] + f"({body}) AS {alias}" + q[it.end :]
    left = it.join.startswith("LEFT")
    on_true = _on_true(q, it)
    pred = q[it.on[0] : it.on[1]] if it.on and not (on_true or left) else None
    end = it.on[1] if on_true or pred else it.end
    if col:
        view_alias, colname = it.alias, col
    else:
        view_alias = f"__sq_lv_{uuid.uuid4().hex[:8]}"
        colname = it.alias or "unnest"
    repl = (
        f" LATERAL VIEW {'OUTER ' if left else ''}explode({arg}) "
        f"{view_alias} AS {colname} "
    )
    q = q[: it.kw] + repl + q[end:]
    return _fold_into_where(q, it.kw + len(repl), pred) if pred else q


def _json_each_from(q: str, it: _FromItem, spark) -> str:
    """JSON_EACH onto ``inline`` of one JVM-side dispatch expression:

    - ``FROM JSON_EACH(x) [AS j[(k[, v])]]`` → ``FROM (SELECT key AS k,
      value AS v FROM (SELECT inline(<dispatch>)) __sq_jei) AS j``
    - ``<t> [LEFT] JOIN JSON_EACH(x) [AS j[(k[, v])]] ON TRUE`` →
      ``<t> LATERAL VIEW [OUTER] inline(<dispatch>) j AS k, v`` (zero
      JSON rows drop the row, as JOIN ON TRUE over an empty table
      function does)."""
    from pyspark.sql import types as T

    if len(it.args) != 1:
        return q
    arg = it.args[0]
    # JS-object fixtures surface as struct/array/map columns: their
    # STRING cast ('{1, Alice}') is not JSON; to_json(col) is
    dt = _ref_dtype(spark, arg)
    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        arg = f"to_json({arg})"
    dispatch = _JE_DISPATCH.format(x=arg)
    cols = it.cols or ()
    k = cols[0] if cols else "key"
    v = cols[1] if len(cols) > 1 else "value"
    alias = it.alias or f"__sq_je_{uuid.uuid4().hex[:8]}"
    if it.join.endswith("JOIN"):
        outer = "OUTER " if it.join.startswith("LEFT") else ""
        end = it.on[1] if _on_true(q, it) else it.end
        return (
            q[: it.kw] + f" LATERAL VIEW {outer}inline({dispatch}) {alias} "
            f"AS {k}, {v} " + q[end:]
        )
    inner = f"__sq_jei_{uuid.uuid4().hex[:8]}"
    return (
        q[: it.start] + f"(SELECT key AS {k}, value AS {v} FROM "
        f"(SELECT inline({dispatch})) {inner}) AS {alias}" + q[it.end :]
    )


# One entry per FROM-clause table function: (text, item, spark) → the
# text with that item rewritten.
_TABLE_FUNCTIONS = {
    "UNNEST": _unnest_from,
    "EXPLODE": _unnest_from,
    "JSON_EACH": _json_each_from,
}


def _rewrite_table_functions(q: str, spark=None) -> str:
    """Every FROM-clause table function (``_TABLE_FUNCTIONS``), in FROM,
    JOIN and comma positions, then Spark's own ``LATERAL VIEW`` spelled
    for the lateral views ``LATERAL EXPLODE(...)`` and ``LATERAL [VIEW]
    [OUTER] UNNEST(...)``."""
    starts = [
        it.start for it in _from_items(q)
        if it.kind == "call" and it.name in _TABLE_FUNCTIONS
        and not it.join.startswith("LATERAL")
    ]
    q = _rewrite_items(
        q, starts,
        lambda q, items, i: _TABLE_FUNCTIONS[items[i].name](
            q, items[i], spark
        ),
    )
    views = [
        it for it in _from_items(q)
        if it.join == "LATERAL" and it.name in ("EXPLODE", "UNNEST")
        or it.join.startswith("LATERAL VIEW") and it.name == "UNNEST"
    ]
    for it in sorted(views, key=lambda it: it.kw, reverse=True):
        head = "LATERAL VIEW " if it.join == "LATERAL" else q[it.kw : it.start]
        call = q[it.start : it.rel_end]
        if it.name == "UNNEST":
            call = "explode(" + call[call.index("(") + 1 :]
        q = q[: it.kw] + head + call + q[it.rel_end :]
    return q


# ---------------------------------------------------------------------------
# Date/time dialect (reference src/expression/date.js)
# ---------------------------------------------------------------------------

_MICROS = {
    "DAY": 86_400_000_000,
    "HOUR": 3_600_000_000,
    "MINUTE": 60_000_000,
    "SECOND": 1_000_000,
}


def _date_diff_sql(unit: str, a: str, b: str) -> str:
    """Reference dateDiff (date.js:110-133): YEAR/MONTH are calendar-field
    differences; DAY..SECOND are ms-delta truncated toward zero."""
    u = unit.upper()
    ca, cb = f"CAST(({a}) AS TIMESTAMP)", f"CAST(({b}) AS TIMESTAMP)"
    if u == "YEAR":
        return f"(year({cb}) - year({ca}))"
    if u == "MONTH":
        return (
            f"((year({cb}) - year({ca})) * 12 + (month({cb}) - month({ca})))"
        )
    if u in _MICROS:
        return (
            f"((unix_micros({cb}) - unix_micros({ca})) DIV {_MICROS[u]})"
        )
    return "CAST(NULL AS BIGINT)"


def _date_diff(args):
    """DATE_DIFF/DATEDIFF('unit', a, b); Spark's own DATEDIFF forms (2
    args, or an unquoted unit) are left alone."""
    um = re.fullmatch(r"'([A-Za-z]+)'", args[0]) if len(args) == 3 else None
    return _date_diff_sql(um.group(1), args[1], args[2]) if um else None


def _extract(args):
    """EXTRACT(DOW|EPOCH|SECOND FROM x); other fields are Spark's."""
    m = len(args) == 1 and re.fullmatch(
        r"(DOW|EPOCH|SECOND)\s+FROM\b(.*)", args[0], re.I | re.S
    )
    return _extract_sql(m.group(1).upper(), m.group(2).strip()) if m else None


def _date_part(args):
    """DATE_PART('dow'|'epoch'|'second', x) — EXTRACT's fields."""
    if len(args) != 2 or not re.fullmatch(
        r"'(dow|epoch|second)'", args[0], re.I
    ):
        return None
    return _extract_sql(args[0].strip("'").upper(), args[1])


# Reference date semantics (src/expression/date.js): integer seconds, JS
# getUTCDay() DOW, fractional epoch.
_DATE_CALLS = {
    "DATE_DIFF": _date_diff,
    "DATEDIFF": _date_diff,
    "EXTRACT": _extract,
    "DATE_PART": _date_part,
    "EPOCH": lambda args: (
        _extract_sql("EPOCH", args[0]) if len(args) == 1 else None
    ),
}


def _extract_sql(field: str, x: str) -> str:
    cx = f"CAST(({x}) AS TIMESTAMP)"
    if field == "DOW":   # JS getUTCDay(): Sunday=0 .. Saturday=6.
        # weekday (Mon=0), not dayofweek-1: the DAYOFWEEK wish-list wrap
        # rewrites the token DAYOFWEEK( through THIS function, so emitting
        # dayofweek(...) here would self-feed and subtract twice.
        return f"((weekday({cx}) + 1) % 7)"
    if field == "EPOCH":  # getTime()/1000 — fractional seconds
        return f"(unix_micros({cx}) / 1000000.0)"
    if field == "SECOND":  # getUTCSeconds() — integer
        return f"second({cx})"
    raise ValueError(field)


# Window functions that Spark runs only over an ordered window
_ORDERED_WINDOW_FUNCS = frozenset({
    "ROW_NUMBER", "RANK", "DENSE_RANK", "LAG", "LEAD", "NTILE", "CUME_DIST",
    "PERCENT_RANK",
})
_INPUT_ORDER = "ORDER BY monotonically_increasing_id()"


def _rewrite_orderless_windows(q: str) -> str:
    """``ROW_NUMBER() OVER ()`` / ``OVER (PARTITION BY x [frame])`` →
    ``ORDER BY monotonically_increasing_id()`` before the frame, or at
    the end of the spec (reference: rows number in input order when no
    ORDER BY is given). A named window, ``OVER (w1)``, is left alone."""
    edits = {}
    for w in _windows(q):
        inner = q[w.open + 1 : w.close]
        if w.name not in _ORDERED_WINDOW_FUNCS or w.order or (
            _PLAIN_NAME_RE.fullmatch(inner.strip())
        ):
            continue
        if w.frame:
            edits[w.frame[0]] = _INPUT_ORDER + " "
        else:
            edits[w.close] = (" " if inner.strip() else "") + _INPUT_ORDER
    for at in sorted(edits, reverse=True):
        q = q[:at] + edits[at] + q[at:]
    return q


# ---------------------------------------------------------------------------
# Dynamic typing: the reference evaluates JS values per row. An array
# function or a subscript on a non-array column is null per row
# (evaluate.js:140-146, 574-618), which Spark rejects statically, so the
# NULL is folded in from the column dtype; a mixed-type column is read
# through the coercion of the JS operator around it (``_dyn_view``).
# ---------------------------------------------------------------------------

_TOKEN = r"<=>|<>|!=|<=|>=|==|\|\||::|->>?|[-+*/%<>=(),;]|\w+"
_PREV_TOKEN_RE = re.compile(rf"({_TOKEN})\s*\Z")
_NEXT_TOKEN_RE = re.compile(rf"\s*({_TOKEN})?")
_SIGN_RE = re.compile(r"\s*[-+(]?\s*")
_CAST_TAIL_RE = re.compile(r"\s+AS\s+([A-Za-z]+)\s*", re.I)
_ORDER_TAIL_RE = re.compile(
    r"(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?", re.I
)
_ORDERING = frozenset({"<", "<=", ">", ">="})
_COMPARISONS = _ORDERING | {"=", "==", "<>", "!="}
# operators that bind an operand tighter than AND, OR and NOT do
_TIGHTER = frozenset("IS IN NOT BETWEEN LIKE ILIKE RLIKE REGEXP ESCAPE"
                     " COLLATE || ::".split())


def _rewrite_dynamic_refs(q: str, spark) -> str:
    """The one walker over dynamic-column reads: each plain ``col`` or
    ``tbl.col`` value (``_chains``) that ``_is_dynamic_ref`` resolves
    becomes the ``_dyn_view`` its position asks for (src/expression/
    binary.js). numeric: the sole argument of SUM/AVG/MIN/MAX, an ORDER
    BY item, an operand of ``+ - * / %``, or of ``< <= > >=`` against a
    number. loose: an operand of ``= <> !=``, an IN or BETWEEN subject,
    an operand of ``< <= > >=`` against a string; the other side's kind
    is its first value's (a literal or a non-dynamic column), and a read
    against anything else stays. truthy: a whole WHERE, HAVING or ON
    condition, a whole WHEN condition of a searched CASE, an operand of
    AND, OR or NOT. decoded: ``CAST(col AS T)``.
    ``(col)`` is read where its outermost bracket stands. Other reads (a
    select item, NULLIF, GROUP BY) stay JSON text."""
    from pyspark.sql import types as T

    views = _resolution_views(spark).values()
    if not any(f.metadata.get("sq_dynamic") for s in views for f in s.fields):
        return q
    partner, chains = _scan(q).partner, _chains(q)

    def end_of(ch):
        return ch.steps[-1][2] if ch.steps else ch.base_end

    starts = {ch.start: ch for ch in chains}
    ends = {end_of(ch): ch for ch in reversed(chains)}  # the outermost wins

    def prev(i):  # (token before i, upper-cased, and its start)
        m = _PREV_TOKEN_RE.search(q, max(0, i - 64), i)
        return (m.group(1).upper(), m.start(1)) if m else ("", i)

    def nxt(i):  # (token after i, upper-cased, its start and its end)
        m = _NEXT_TOKEN_RE.match(q, i)
        return (m.group(1) or "").upper(), m.start(1), m.end()

    def kind(ch):  # "number", "string" or None: what a comparison reads
        if ch is None or ch.kind in ("number", "string"):
            return ch and ch.kind
        f = ch.kind == "ident" and _ref_field(spark, q[ch.start : end_of(ch)])
        dt = f and not f.metadata.get("sq_dynamic") and f.dataType
        if isinstance(dt, (T.NumericType, T.StringType)):
            return "number" if isinstance(dt, T.NumericType) else "string"
        return None

    def after(i):  # the value after i and an optional sign or "("
        return starts.get(_SIGN_RE.match(q, i).end())

    def between_and(i):  # the AND at i ends a BETWEEN's lower bound
        lo = ends.get(len(q[:i].rstrip()))
        tok, at = prev(lo.start) if lo else ("", i)
        return (prev(at)[0] if tok in ("-", "+") else tok) == "BETWEEN"

    conds = {it.on for it in _from_items(q)} | {
        sel.clauses.get(c, ())[1:] for sel in _selects(q)
        for c in ("WHERE", "HAVING")
    }
    cases = _cases(q) if "WHEN" in q.upper() else []

    def when_cond(i):  # the WHEN at i belongs to a searched CASE (CASE
        # WHEN cond ...), not to a simple one (CASE x WHEN value ...)
        depth = _scan(q).depth
        owner = max(
            (a for a, b in cases if a < i < b and depth[a] == depth[i]),
            default=None,
        )
        return owner is not None and nxt(owner + 4)[0] == "WHEN"

    orders = {}
    if "ORDER" in q.upper():
        lists = [_spec(q, partner[end - 1])[1] for *_, end in _iter_calls(q)]
        lists += [w.order for w in _windows(q)]
        lists += [sel.clauses.get("ORDER BY", ())[1:] for sel in _selects(q)]
        for start, end in filter(None, lists):
            cuts = [start - 1, *_top_commas(q, start, end), end]
            orders.update(_trim(q, x + 1, y) for x, y in zip(cuts, cuts[1:]))
    edits = []
    for ch in chains:
        a, b = span = ch.start, end_of(ch)
        ref, view, arg = q[a:b], None, ""
        if ch.kind != "ident" or any(op != "." for op, _, _ in ch.steps) \
                or not _is_dynamic_ref(spark, ref):
            continue
        (p, pi), (n, ni, nj) = prev(a), nxt(b)
        while partner[pi] == ni >= 0 and starts.get(pi, ch).kind == "group":
            a, b = pi, nj
            (p, pi), (n, ni, nj) = prev(a), nxt(b)
        call = prev(pi)[0] if p == "(" else ""
        if call in ("SUM", "AVG", "MIN", "MAX") and partner[pi] == ni >= 0:
            view = "numeric"
        elif call == "CAST" and (
            tail := _CAST_TAIL_RE.fullmatch(q, b, partner[pi])
        ):
            span = prev(pi)[1], partner[pi] + 1
            view, arg = "decoded", tail.group(1).upper()
        elif a in orders and _ORDER_TAIL_RE.fullmatch(q, b, orders[a]):
            view = "numeric"
        elif p in ("+", "-", "*", "/", "%") or n in ("+", "-", "*", "/", "%"):
            view = "numeric"
        elif p in _COMPARISONS or n in _COMPARISONS:
            op, arg = (n, kind(after(nj))) if n in _COMPARISONS else (
                p, kind(ends.get(len(q[:pi].rstrip())))
            )
            view = arg and (
                "numeric" if op in _ORDERING and arg == "number" else "loose"
            )
        elif n in ("IN", "BETWEEN") or n == "NOT" and (
            nxt(nj)[0] in ("IN", "BETWEEN")
        ):
            arg = kind(after(nxt(nj)[2] if n == "NOT" else nj))
            view = arg and "loose"
        elif (a, b) in conds or (p == "WHEN" and n == "THEN"
                                 and when_cond(pi)) or (
            p in ("AND", "OR", "NOT") and not (p == "AND" and between_and(pi))
            and n not in _TIGHTER
        ) or (n in ("AND", "OR") and p not in _TIGHTER):
            view = "truthy"
        if view:
            edits.append((*span, _dyn_view(ref, view, arg)))
    for start, end, text in sorted(edits, reverse=True):
        q = q[:start] + text + q[end:]
    return q


_WHERE_GROUP_RE = re.compile(r"\bWHERE\s*\(", re.I)


def _unwrap_where_groups(q: str) -> str:
    """``WHERE (cond)`` → ``WHERE cond`` when the whole WHERE clause
    (``_selects``) is one bracketed group and no subquery: Spark reads
    ``FROM t WHERE (b)`` as the alias WHERE with a column list."""
    partner, chars = _scan(q).partner, list(q)
    for sel in _selects(q):
        _, a, b = sel.clauses.get("WHERE", (0, 0, 0))
        while b > a and q[a] == "(" and partner[a] == b - 1:
            inner = _trim(q, a + 1, b - 1)
            if _HEAD_RE.match(q, inner[0]):
                break
            chars[a] = chars[b - 1] = " "
            a, b = inner
    return "".join(chars)


def _rewrite_dynamic_typing(q: str, spark=None) -> str:
    """Dtype-directed rewrites needing the session's view schemas."""
    from pyspark.sql import types as T

    def dtype(arg: str):
        return _ref_dtype(spark, arg.strip())

    # Array family on a statically-non-array column → NULL (reference
    # returns null per row; a whole column of one non-array dtype is NULL
    # for every row). ARRAY_CONCAT guards BOTH args (evaluate.js:616-618).
    def arr_guard(n_guarded: int, otherwise=lambda args: None):
        def build(args):
            for a in args[:n_guarded]:
                dt = dtype(a)
                if dt is not None and not isinstance(dt, T.ArrayType):
                    return "NULL"
            return otherwise(args)

        return build

    # LEN / LENGTH accept arrays in the reference (strings.js:38-39 —
    # `val.length` covers both); Spark's len/length reject them, so
    # dispatch resolvable array inputs to size().
    def array_size(args):
        if len(args) == 1 and isinstance(dtype(args[0]), T.ArrayType):
            return f"size({args[0]})"
        return None

    # ARRAY_LENGTH(a, d): a dimension beyond the STATIC nesting depth is
    # null for every row (evaluate.js:582-591)
    def beyond_depth(args):
        dm = len(args) == 2 and re.fullmatch(r"\s*(\d+)\s*", args[1])
        dt = dtype(args[0]) if dm else None
        if dt is None:
            return None
        for _ in range(int(dm.group(1)) - 1):
            if not isinstance(dt, T.ArrayType):
                break
            dt = dt.elementType
        if not isinstance(dt, T.ArrayType) and int(dm.group(1)) > 1:
            return "NULL"
        return None

    # Auto-stringify (syntax.md runtime table row 2: "SUBSTR/LOWER(...)
    # does not support object/array arguments. Use CAST" — 13 production
    # failures where DuckDB coerces and the reference asks for a CAST):
    # a struct/array/map first argument to a string function stringifies
    # to its JSON text. Spark's and DuckDB's to_json are both minified,
    # so the widened behavior stays cross-engine gradeable. LENGTH stays
    # out: the reference pins its string-or-array semantics explicitly.
    def stringify_first(fname: str):
        def build(args):
            if not args or re.match(
                r"\s*(BOTH|LEADING|TRAILING)\b", args[0], re.I
            ):
                return None
            if not isinstance(
                dtype(args[0]), (T.StructType, T.MapType, T.ArrayType)
            ):
                return None
            rest = ", ".join(a.strip() for a in args[1:])
            tail = f", {rest}" if rest else ""
            return f"{fname}(to_json({args[0].strip()}){tail})"

        return build

    # CAST dialect: JS Number(Date) is epoch MILLISECONDS (evaluate.js:
    # 707-726 casts primitives-and-Dates; Number coercion of a Date is
    # getTime()), and CAST(object AS STRING) is JSON.stringify
    # (evaluate.js:703-705).
    def cast_dialect(args):
        if len(args) != 1:
            return None
        m = re.match(r"(?s)^(.*?)\s+AS\s+([A-Za-z]+)\s*$", args[0], re.I)
        if not m:
            return None
        ref, target = m.group(1).strip(), m.group(2).upper()
        # CAST(number AS TIMESTAMP) is new Date(ms) in the reference
        # (evaluate.js:729-737) — Spark reads integral casts as SECONDS.
        # Numeric operands: resolved numeric column, numeric literal, or
        # an expression our own ms-cast rewrites just produced.
        if target == "TIMESTAMP":
            ndt = _ref_dtype(spark, ref)
            numeric = isinstance(
                ndt, (T.LongType, T.IntegerType, T.DoubleType,
                      T.FloatType, T.DecimalType, T.ShortType)
            ) or re.fullmatch(r"-?\d+(\.\d+)?", ref) or re.match(
                r"(?is)^(unix_millis\s*\(|CAST\s*\(.*\s+AS\s+"
                r"(INT|INTEGER|BIGINT|FLOAT|REAL|DOUBLE)\s*\)$)",
                ref,
            )
            if numeric:
                return f"timestamp_millis(CAST({ref} AS BIGINT))"
            return None
        dt = _ref_dtype(spark, ref)
        if dt is None:
            return None
        if isinstance(dt, (T.TimestampType, T.DateType)):
            if target in ("INT", "INTEGER", "BIGINT"):
                return f"unix_millis(CAST({ref} AS TIMESTAMP))"
            if target in ("FLOAT", "REAL", "DOUBLE"):
                return (
                    f"CAST(unix_millis(CAST({ref} AS TIMESTAMP)) AS DOUBLE)"
                )
        if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
            if target in ("STRING", "TEXT", "VARCHAR"):
                return f"to_json({ref})"
        return None

    table = {
        **dict.fromkeys(
            ("LIST_LENGTH", "CARDINALITY", "SIZE", "ARRAY_POSITION",
             "LIST_POSITION", "ARRAY_CONTAINS", "LIST_CONTAINS",
             "ARRAY_SORT", "ARRAY_APPEND", "LIST_APPEND"),
            arr_guard(1),
        ),
        "ARRAY_CONCAT": arr_guard(2),
        "LIST_CONCAT": arr_guard(2),
        "LEN": arr_guard(1, array_size),
        "ARRAY_LENGTH": arr_guard(1, beyond_depth),
        "LENGTH": array_size,
        **{f: stringify_first(f.lower())
           for f in ("LOWER", "UPPER", "SUBSTR", "SUBSTRING", "TRIM")},
        "CAST": cast_dialect,
    }
    return _rewrite_calls(_rewrite_dynamic_refs(q, spark), table)


# Keywords that bound a concat operand at its own nesting depth
_CONCAT_BOUNDARY_KW = {
    "SELECT", "DISTINCT", "ALL", "FROM", "WHERE", "GROUP", "ORDER",
    "HAVING", "LIMIT", "OFFSET", "AND", "OR", "NOT", "IN", "IS", "LIKE",
    "ILIKE", "BETWEEN", "AS", "WHEN", "THEN", "ELSE", "END", "CASE",
    "JOIN", "ON", "BY", "ASC", "DESC", "UNION", "EXCEPT", "INTERSECT",
    "OVER", "PARTITION", "ROWS", "RANGE", "USING", "LATERAL", "VIEW",
    "NULLS", "FIRST", "LAST", "CROSS", "LEFT", "RIGHT", "FULL", "INNER",
    "OUTER", "WITH", "VALUES", "ESCAPE",
}
_CONCAT_TOKEN_RE = re.compile(
    r"'(?:[^']|'')*'|\"[^\"]*\"|`[^`]*`|\|\||<>|<=|>=|!=|[(),=<>]|"
    r"\b[A-Za-z_]\w*\b|\S"
)


def _rewrite_concat_precedence(q: str) -> str:
    """The reference parses ``||`` BELOW additive precedence
    (parse/expression.js:11-12 — OR, AND, NOT, Comparison, Concat,
    Additive, Multiplicative): ``a || a + b`` is ``a || (a + b)``.
    Spark groups ``(a || a) + b``. Re-associate by parenthesizing every
    concat operand that contains a top-level additive/multiplicative
    operator. Bracket groups, ``(...)`` and ``[...]``, are rewritten
    recursively first, so the depth-0 pass below only reasons about its
    own level."""
    if "||" not in q:
        return q
    s = _scan(q)
    out, last = [], 0
    for m in re.finditer(r"[(\[]", q):
        i = m.start()
        if s.mask[i] or s.depth[i] or s.partner[i] < 0:
            continue
        inner = _rewrite_concat_precedence(q[i + 1 : s.partner[i]])
        out += [q[last : i + 1], inner]
        last = s.partner[i]
    q = "".join(out) + q[last:]
    depth = _scan(q).depth
    # Depth-0 runs between boundaries; a run with a depth-0 || is a
    # concat chain whose operands may need grouping.
    runs = [[]]
    for m in _CONCAT_TOKEN_RE.finditer(q):
        tok = m.group(0)
        if depth[m.start()] == 0 and (
            tok in (",", "=", "<>", "<=", ">=", "!=", "<", ">")
            or tok.upper() in _CONCAT_BOUNDARY_KW
        ):
            runs.append([])
        else:
            runs[-1].append(m)
    for run in reversed(runs):
        bars = [m for m in run if m.group(0) == "||" and depth[m.start()] == 0]
        if not bars:
            continue
        edges = [run[0].start()]
        for m in bars:
            edges += [m.start(), m.end()]
        edges.append(run[-1].end())
        pieces = list(zip(edges[::2], edges[1::2]))
        grouped = [_has_top_level_arith(q, depth, a, b) for a, b in pieces]
        if any(grouped):
            q = (
                q[: edges[0]]
                + " || ".join(
                    f"({q[a:b].strip()})" if g else q[a:b].strip()
                    for (a, b), g in zip(pieces, grouped)
                )
                + q[edges[-1] :]
            )
    return q


def _has_top_level_arith(q: str, depth, start: int, end: int) -> bool:
    """True when ``q[start:end]`` contains a BINARY +-*/% at bracket
    depth 0 (a leading unary minus is not binary: it must follow a
    value)."""
    prev_val = False
    for m in _CONCAT_TOKEN_RE.finditer(q, start, end):
        t = m.group(0)
        if prev_val and t in ("+", "-", "*", "/", "%") and not depth[m.start()]:
            return True
        prev_val = t not in ("(", ",", "+", "-", "*", "/", "%")
    return False


_CORR_COUNT_RE = re.compile(r"\(\s*SELECT\s+COUNT\s*\(\s*\*\s*\)\s+FROM\b", re.I)
_QUALIFIED_REF_RE = re.compile(r"[A-Za-z_]\w*\.[A-Za-z_]\w*")


def _rewrite_correlated_unnest_count(q: str) -> str:
    """Decorrelate ``(SELECT COUNT(*) FROM t JOIN UNNEST(o.arr) u(x)
    ON TRUE)`` — a correlated table function below a scalar subquery's
    FROM, which Spark's lateral decorrelation reaches only one level
    deep (reference execute.subquery.test.js:567). When the unnest join
    is an unconditioned cross product whose alias is never referenced
    elsewhere, COUNT(*) factorizes: |rest| × size(arr) — so the unnest
    hoists OUT of the subquery as a row-local multiplier (NULL/empty
    arrays → 0 rows → coalesce(size, 0)). Conditioned or referenced
    unnest aliases are left alone (Spark raises its correlation error,
    matching the documented limitation). Subqueries are visited right
    to left, so each one's position holds while the later ones change."""
    s = _scan(q)
    opens = [
        m.start() for m in _CORR_COUNT_RE.finditer(q)
        if not s.mask[m.start()] and s.partner[m.start()] >= 0
    ]
    for open_idx in reversed(opens):
        close = _scan(q).partner[open_idx]
        body = q[open_idx + 1 : close]
        items = _from_items(body)
        um = next(
            (
                it for it in items
                if it.name == "UNNEST" and it.kind == "call"
                and it.join in ("JOIN", "INNER JOIN", "CROSS JOIN")
                and not it.lateral and it.alias and len(it.args) == 1
                and _QUALIFIED_REF_RE.fullmatch(it.args[0])
                and _on_true(body, it)
            ),
            None,
        )
        if um is None:
            continue
        tables = [it for it in items if it.kind == "table"]
        local = {it.name for it in tables} | {it.alias for it in tables}
        rest = body[: um.kw].rstrip() + body[um.on[1] :]
        if um.args[0].split(".")[0] in local or re.search(
            rf"\b{um.alias}\b", rest, re.I
        ):
            continue  # not correlated / alias used — leave it
        q = (
            q[:open_idx]
            + f"(({rest.strip()}) * coalesce(size({um.args[0]}), 0))"
            + q[close + 1 :]
        )
    return q


_STRING_KEY_RE = re.compile(r"'((?:[^']|'')*)'")


def _rewrite_dynamic_access(q: str, spark=None) -> str:
    """Subscript / field chains (``_chains``) whose STATIC type makes the
    reference return null — ``name[0]`` on a string column, any access on
    an all-null (void) column, ``arr[0].missing`` on a struct without the
    field (evaluate.js:140-146: non-array subscript → null; missing
    object key → null). The chain starts with a column reference (``col``
    or ``tbl.col``) and a subscript; unresolvable references pass
    through unchanged. Chains are visited right to left, each read from
    the current text."""
    from pyspark.sql import types as T

    for found in reversed(_chains(q)):
        steps = found.steps and _chain(q, found.start).steps
        first = next((st for st in steps if st[0] != "."), None)
        if found.kind != "ident" or first is None or first[0] != "[":
            continue
        dt = _ref_dtype(spark, q[found.start : first[1]].rstrip())
        if dt is None:
            continue
        run = list(itertools.takewhile(
            lambda st: st[0] in ("[", "."), steps[steps.index(first) :]
        ))
        for op, a, b in run:
            if op == "[":
                # struct['field'] is field access in both engines
                key = _STRING_KEY_RE.fullmatch(q[a + 1 : b - 1].strip())
                name = key and key.group(1)
            else:
                name = q[a + 1 : b]
            if isinstance(dt, T.StructType):
                dt = dt[name].dataType if name in dt.fieldNames() else None
            elif op == "[" and isinstance(dt, T.ArrayType):
                dt = dt.elementType
            elif op == "[" and isinstance(dt, T.MapType):
                dt = dt.valueType
            elif not isinstance(dt, (T.ArrayType, T.MapType)):
                dt = None
            if dt is None:
                # NULL.field is invalid: the rest of the chain goes too
                q = q[: found.start] + "NULL" + q[run[-1][2] :]
                break
    return q


# ---------------------------------------------------------------------------
# Scalar-function dialect: name maps + arg-shape fixes
# ---------------------------------------------------------------------------

# C-style strftime %-codes → Java DateTimeFormatter pattern letters
# (syntax.md item 13). %-X strips zero-padding (single pattern letter).
_STRF_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "H": "HH", "I": "hh",
    "M": "mm", "S": "ss", "f": "SSSSSS", "j": "DDD", "a": "EEE",
    "A": "EEEE", "b": "MMM", "B": "MMMM", "p": "a", "G": "YYYY",
    "V": "ww", "u": "e",
}
_STRF_UNPAD = {"MM", "dd", "HH", "hh", "mm", "ss", "DDD"}


def _strftime_java(fmt: str) -> str | None:
    """Java date_format pattern for a C strftime format; None when the
    format uses a %-code with no Java equivalent. Literal runs are
    single-quoted so letters can't be read as pattern codes."""
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            run = "".join(lit)
            out.append("'" + run.replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c != "%":
            lit.append(c)
            i += 1
            continue
        if i + 1 >= len(fmt):
            return None
        nxt = fmt[i + 1]
        unpad = False
        if nxt == "-" and i + 2 < len(fmt):
            unpad = True
            i += 1
            nxt = fmt[i + 1]
        if nxt == "%":
            lit.append("%")
            i += 2
            continue
        code = _STRF_MAP.get(nxt)
        if code is None:
            return None
        if unpad and code in _STRF_UNPAD:
            code = code[0]
        flush()
        out.append(code)
        i += 2
    flush()
    return "".join(out)


# ARRAY_LENGTH(a[, dim]) — reference evaluate.js:574-594: dim 1 = size;
# dim 2 = inner length when RECTANGULAR else NULL; dim < 1 or non-literal
# → NULL
def _array_length(args):
    if len(args) == 1:
        return f"size({args[0]})"
    if len(args) != 2:
        return None
    dm = re.fullmatch(r"\s*(\d+)\s*", args[1])
    if not dm:
        return "NULL"
    d = int(dm.group(1))
    if d < 1:
        return "NULL"
    a = args[0]
    for _ in range(d - 1):
        a = (
            f"(CASE WHEN size({a}) > 0 AND "
            f"size(array_distinct(transform({a}, __x -> size(__x)))) = 1"
            f" THEN element_at({a}, 1) END)"
        )
    return f"size({a})"


# REGEXP_SUBSTR/REGEXP_EXTRACT(t, p[, pos[, occ]]) — reference
# regexp.js:18-78: always the FULL match, from 1-based position, nth
# occurrence, NULL when absent (Spark's regexp_extract returns '' and
# takes a group index instead)
def _regexp_substr(args):
    if len(args) == 2:
        return (
            f"try_element_at(regexp_extract_all({args[0]},"
            f" {args[1]}, 0), 1)"
        )
    if len(args) in (3, 4):
        occ = args[3] if len(args) == 4 else "1"
        return (
            f"try_element_at(regexp_extract_all("
            f"substr({args[0]}, {args[2]}), {args[1]}, 0), {occ})"
        )
    return None


# REGEXP_REPLACE 5-arg (occurrence) → registered UDF; 3/4-arg match
# Spark's builtin semantics already. Postgres-habit 4th-arg FLAG string
# (syntax.md runtime table: regexp_replace(..., 'g')): 'g' is Spark's
# default (replace all) so it drops; 'i' folds into the pattern as (?i).
# A flagless-Postgres (first-match-only) call has no cheap Spark form and
# stays unrewritten.
def _regexp_replace(args):
    if len(args) == 5:
        return f"ref_regexp_replace({', '.join(args)})"
    if len(args) == 4:
        fm = re.fullmatch(r"\s*'([gis]*)'\s*", args[3])
        if fm and "g" in fm.group(1):
            pat = args[1]
            if "i" in fm.group(1):
                pm = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", pat)
                pat = (
                    f"'(?i){pm.group(1)}'"
                    if pm
                    else f"concat('(?i)', {pat})"
                )
            return f"regexp_replace({args[0]}, {pat}, {args[2]})"
    return None


# ARRAY_AGG / JSON_ARRAYAGG keep NULL elements in the reference; Spark's
# collect_list drops them — struct-wrap to preserve. A trailing FILTER
# (WHERE ...) clause must attach to the inner collect_list (aggregate),
# not the outer transform/to_json.
def _null_keeping_agg(to_json: bool):
    @_with_filter
    def build(args, clause):
        if len(args) != 1:
            return None
        dm = re.match(r"DISTINCT\s+(.*)$", args[0], re.I | re.S)
        if dm:
            # DISTINCT de-dupes; ARRAY_AGG(DISTINCT x) is native Spark,
            # JSON_ARRAYAGG needs the collect_set mapping
            if not to_json:
                return None
            return f"to_json(collect_set({dm.group(1).strip()}))" + clause
        filt = f" {clause.strip()}" if clause else ""
        inner = (
            f"transform(collect_list(named_struct('v', {args[0]})){filt},"
            f" s -> s.v)"
        )
        return f"to_json({inner})" if to_json else inner

    return build


# STRUCT_EXTRACT(s, 'f') / STRUCT_PACK(a := x, ...) (syntax.md item 12)
def _struct_extract(args):
    if len(args) != 2:
        return None
    fm = re.fullmatch(r"\s*'(\w+)'\s*", args[1])
    return f"({args[0]}).{fm.group(1)}" if fm else None


def _struct_pack(args):
    parts = []
    for a in args:
        am = re.match(r"\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", a, re.S)
        if not am:
            return None
        parts.append(f"'{am.group(1)}', {am.group(2).strip()}")
    return f"named_struct({', '.join(parts)})" if parts else None


# STRFTIME(x, '%Y-%m-%d') (syntax.md item 13) → date_format with the
# %-codes mapped to a Java pattern; literal runs are single-quoted so
# pattern letters can't leak. Unmapped codes leave the call unrewritten.
def _strftime(args):
    if len(args) != 2:
        return None
    x, fmt = args[0], args[1]
    if re.fullmatch(r"\s*'(?:[^']|'')*'\s*", x) and not re.fullmatch(
        r"\s*'(?:[^']|'')*'\s*", fmt
    ):
        x, fmt = fmt, x  # strftime(fmt, ts) arg order also seen
    fm = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", fmt)
    if not fm:
        return None
    java = _strftime_java(fm.group(1).replace("''", "'"))
    if java is None:
        return None
    return (
        f"date_format(CAST({x} AS TIMESTAMP), "
        f"'{java.replace(chr(39), chr(39) * 2)}')"
    )


# TRIM(x) 1-arg → JS String.trim() (all whitespace, not just spaces);
# TRIM(BOTH.. FROM ..) forms pass through
def _js_trim(args):
    if len(args) != 1 or re.match(
        r"\s*(BOTH|LEADING|TRAILING)\b", args[0], re.I
    ):
        return None
    return f"regexp_replace(CAST({args[0]} AS STRING), '^\\\\s+|\\\\s+$', '')"


# LN/LOG10/LOG2: JS math — negative → NaN, zero → -Infinity (Spark
# returns NULL for both; reference evaluates Math.log)
def _js_log(fn: str):
    return _fixed(
        1,
        "(CASE WHEN ({0}) < 0 THEN CAST('NaN' AS DOUBLE) "
        "WHEN ({0}) = 0 THEN CAST('-Infinity' AS DOUBLE) "
        f"ELSE {fn}({{0}}) END)",
    )


# Reference scalar/aggregate function surface onto Spark built-ins, one
# entry per name (see _rewrite_calls). A str entry is a plain rename.
_FUNCTION_CALLS = {
    "LIST_LENGTH": "size",
    "CARDINALITY": "size",
    "JSON_ARRAY_LENGTH": "json_array_length",
    "LIST_APPEND": "array_append",
    "LIST_CONTAINS": "array_contains",
    "COUNTIF": "count_if",
    "STRPOS": "instr",
    "APPROX_QUANTILE": "approx_percentile",
    "REGEXP_MATCHES": "regexp_like",
    "LIST": "collect_list",
    # syntax.md wish-list pure renames (items 3, 6, 8, 10, 14)
    "ARG_MIN": "min_by",
    "ARG_MAX": "max_by",
    "JSON_EXTRACT_STRING": "json_value",
    "REGEXP_SPLIT_TO_ARRAY": "split",
    "CHARINDEX": "locate",  # CHARINDEX(sub, str[, start]) = locate
    "ARRAY_LENGTH": _array_length,
    # the reference returns NULL when the value is absent (Spark: 0)
    **dict.fromkeys(
        ("ARRAY_POSITION", "LIST_POSITION"),
        _fixed(2, "nullif(array_position({0}, {1}), 0)"),
    ),
    # exactly 2 array args in the reference; other arities stay
    # unrenamed so Spark raises like the reference
    **dict.fromkeys(
        ("ARRAY_CONCAT", "LIST_CONCAT"), _fixed(2, "concat({0}, {1})")
    ),
    **dict.fromkeys(("REGEXP_SUBSTR", "REGEXP_EXTRACT"), _regexp_substr),
    "REGEXP_REPLACE": _regexp_replace,
    "ARRAY_AGG": _null_keeping_agg(False),
    **dict.fromkeys(
        ("JSON_ARRAYAGG", "JSON_GROUP_ARRAY"), _null_keeping_agg(True)
    ),
    # split on the \Q..\E-quoted literal delimiter; an empty delimiter
    # returns the whole string as one element
    **dict.fromkeys(
        ("STRING_SPLIT", "STR_SPLIT"),
        _fixed(
            2,
            "(CASE WHEN ({1}) = '' THEN array({0}) ELSE "
            "split({0}, concat('\\\\Q', {1}, '\\\\E')) END)",
        ),
    ),
    # --- syntax.md wish-list function shapes ----------------------------
    # generator in select position (item 3)
    "REGEXP_SPLIT_TO_TABLE": _fixed(2, "explode(split({0}, {1}))"),
    # (item 6) sorted-by-key map → JSON text. DuckDB is insertion-ordered;
    # a distributed engine has no stable arrival order, so keys sort —
    # deterministic at any parallelism.
    "JSON_GROUP_OBJECT": _fixed(
        2,
        "to_json(map_from_entries(array_sort(collect_list("
        "struct(CAST({0} AS STRING) AS key, {1} AS value)))))",
    ),
    "STRUCT_EXTRACT": _struct_extract,
    "STRUCT_PACK": _struct_pack,
    "STRFTIME": _strftime,
    # (item 13) the reference's DATE_PART('dow'): JS getUTCDay(),
    # Sunday=0 (Spark's builtin is Sunday=1). WEEKDAY (Monday=0) is
    # Spark-native and already matches.
    "DAYOFWEEK": lambda args: (
        _extract_sql("DOW", args[0]) if len(args) == 1 else None
    ),
    # (item 14) Postgres/DuckDB arg order; Spark's 2-arg form is
    # (trimStr, str) — swap
    "LTRIM": _fixed(2, "ltrim({1}, {0})"),
    "RTRIM": _fixed(2, "rtrim({1}, {0})"),
    # --- end wish-list function shapes ----------------------------------
    "ATAN": _fixed(2, "atan2({0}, {1})"),  # JS Math.atan2
    # a single argument is accepted in the reference
    **dict.fromkeys(("GREATEST", "LEAST"), _fixed(1, "({0})")),
    "PERCENTILE_CONT": _fixed(2, "percentile({1}, {0})"),  # interpolating
    # comma form → instr (the SQL-standard POSITION(needle IN haystack)
    # form passes through to Spark)
    "POSITION": _fixed(2, "instr({0}, {1})"),
    "TRIM": _js_trim,
    "LN": _js_log("ln"),
    "LOG10": _js_log("log10"),
    "LOG2": _js_log("log2"),
}


def _rewrite_function_dialect(q: str) -> str:
    """Reference scalar/aggregate function surface onto Spark built-ins:
    the ``_FUNCTION_CALLS`` walk, then the operator and literal shapes
    that are not calls."""
    q = _rewrite_calls(q, _FUNCTION_CALLS)
    # TIMESTAMP/DATE typed literals: the reference yields NULL for
    # unparseable values instead of a parse error — CAST matches that in
    # non-ANSI sessions and is identical for valid literals
    q = _sub_outside_strings(
        q,
        re.compile(r"\b(TIMESTAMP|DATE)\s+('(?:[^']|'')*')", re.I),
        lambda m: f"CAST({m.group(2)} AS {m.group(1).upper()})",
    )
    # INTERVAL n FORTNIGHT → INTERVAL 14n DAY
    q = _sub_outside_strings(
        q,
        re.compile(r"\bINTERVAL\s+(\d+)\s+FORTNIGHTS?\b", re.I),
        lambda m: f"INTERVAL {int(m.group(1)) * 14} DAY",
    )
    # rank-family OVER clauses without ORDER BY: the reference numbers
    # input order; monotonically_increasing_id() is ascending in input
    # order per partition
    q = _rewrite_orderless_windows(q)
    return _rewrite_month_intervals(q)


_MONTH_INTERVAL_RE = re.compile(
    r"([+-])\s*INTERVAL\s+'?(-?\d+)'?\s+(MONTH|YEAR)S?\b", re.I
)


_CASE_END_RE = re.compile(r"\b(?:(CASE)|END)\b", re.I)


def _cases(q: str) -> list[tuple[int, int]]:
    """``(start, end)`` of every ``CASE … END`` outside strings. An END
    closes the innermost open CASE at its bracket depth."""
    s = _scan(q)
    open_, out = [], []
    for m in _CASE_END_RE.finditer(q):
        i = m.start()
        if s.mask[i]:
            continue
        if m.group(1):
            open_.append(i)
            continue
        while open_ and s.depth[open_[-1]] > s.depth[i]:
            open_.pop()  # a CASE left open inside a closed bracket
        if open_ and s.depth[open_[-1]] == s.depth[i]:
            out.append((open_.pop(), m.end()))
    return out


def _rewrite_month_intervals(q: str) -> str:
    """``x ± INTERVAL n MONTH|YEAR`` → ``add_months(x, ±n)``: the
    reference adds calendar months to ISO STRING dates too, which Spark's
    year-month interval arithmetic rejects on strings (add_months
    coerces). ``x`` is the value (``_chains``), windowed call or ``CASE
    … END`` ending just before the sign; a sign with none, or whose
    value holds an earlier rewrite, is left alone."""
    mask = _scan(q).mask
    found = [m for m in _MONTH_INTERVAL_RE.finditer(q) if not mask[m.start()]]
    # the end of a value → the start of the outermost one (a window's
    # call, a CASE rather than its END)
    starts = {w.close + 1: w.start for w in (_windows(q) if found else ())}
    starts.update({end: start for start, end in (_cases(q) if found else ())})
    for ch in _chains(q) if found else ():
        end = ch.steps[-1][2] if ch.steps else ch.base_end
        starts.setdefault(end, ch.start)
    out, last = [], 0
    for m in found:
        end = len(q[: m.start()].rstrip())
        start = starts.get(end, -1)
        if start >= last:
            n = int(m.group(2)) * (12 if m.group(3).upper() == "YEAR" else 1)
            n = -n if m.group(1) == "-" else n
            out += [q[last:start], f"add_months({q[start:end]}, {n})"]
            last = m.end()
    return "".join(out) + q[last:]


# ---------------------------------------------------------------------------
# Derived column names (reference src/expression/alias.js)
# ---------------------------------------------------------------------------

# Binary operators between values, longest first; AND and OR are words.
_BINARY_OPS = "|| <> <= >= != -> - + * / % = < >".split()
_LITERAL_NAMES = {"NULL": "null", "TRUE": "true", "FALSE": "false"}
_UNNAMED = frozenset({"CASE", "SELECT", "INTERVAL", "EXISTS"})


def _literal_name(lit: str) -> str:
    return lit[1:-1].replace("''", "'") if lit[0] == "'" else lit


def _namer(q: str):
    """alias.js's derived names: a function from a span of ``q`` to the
    name of the expression there, or None (CASE, subqueries, INTERVAL,
    EXISTS and shapes the rule cannot name). It reads the values
    (``_chains``), calls and windows of ``q`` once. A value is its base's
    name (a group's: its contents') then its steps' (``x[1]``; ``k`` for
    ``['k']`` and ``.k``); a call is ``f_arg1_arg2`` (no DISTINCT),
    ``f_all``, ``x_as_t`` for ``CAST(x AS T)`` or ``f`` before ``OVER``;
    ``-``/``NOT`` prefix (``-_x``), operators join (``a_+_b``)."""
    values = {ch.start: ch for ch in _chains(q)}
    calls = {c[1]: c for c in _iter_calls(q)}
    windows = {w.start: w for w in _windows(q)}

    def skip(i):
        while i < len(q) and q[i].isspace():
            i += 1
        return i

    def word(i):
        m = i in values and _PLAIN_NAME_RE.match(q, i)
        return m.group().upper() if m else ""

    def whole(a, b):
        got = expr(a)
        return got[0] if got and got[1] <= b <= skip(got[1]) else None

    def expr(i):
        """(name, end) of the longest operator chain of values from i."""
        got = operand(i)
        while got:
            name, j = got[0], skip(got[1])
            op = word(j) if word(j) in ("AND", "OR") else next(
                (op for op in _BINARY_OPS if q.startswith(op, j)), None
            )
            if op is None:
                return got
            rhs = operand(j + len(op))
            got = rhs and (f"{name}_{op}_{rhs[0]}", rhs[1])
        return None

    def operand(i):
        i = skip(i)
        v, w = values.get(i), word(i)
        if q.startswith("-", i) or w == "NOT":
            got = operand(i + len(w or "-"))
            return got and (f"{w or '-'}_{got[0]}", got[1])
        if v is None and q.startswith("(", i):  # the group of ``NOT(x)``
            v = _Chain(i, _scan(q).partner[i] + 1, "group", (), -1)
        if v is None or w in _UNNAMED:
            return None
        name, end = None, v.base_end
        if i in calls:
            got = call(*calls[i])
            if got is None:
                return None
            name, end = got
            if v.kind == "ident":  # ``f (x)``: the steps follow its group
                v = values.get(q.index("(", i), v)
        elif v.kind in ("number", "string"):
            name = _literal_name(q[i:end])
        elif v.kind == "group" and q[i] == "(":
            name = whole(i + 1, end - 1)
        elif v.kind == "ident":
            name = _LITERAL_NAMES.get(q[i:end].upper(), q[i:end].strip("`"))
        steps = v.steps if end == v.base_end else ()  # none after OVER (..)
        for op, a, b in steps if name is not None else ():
            if op == "[":
                idx = whole(a + 1, b - 1)
                if idx is None:
                    return None
                name = idx if q[skip(a + 1)] == "'" else f"{name}[{idx}]"
            elif op == ".":
                name = q[a + 1 : b]
            elif op == "->":  # a lambda ``x -> 5``
                name = f"{name}_->_{_literal_name(q[a + 2 : b].strip())}"
            else:
                return None
        return None if name is None else (name, steps[-1][2] if steps else end)

    def call(name, start, args, end):
        open_ = q.index("(", start)
        if name == "CAST":
            got = expr(open_ + 1)
            j = skip(got[1]) if got else open_
            typ = values.get(skip(j + 2))
            if word(j) != "AS" or not typ or typ.kind != "ident" or (
                typ.steps or skip(typ.base_end) != end - 1
            ):
                return None
            return f"{got[0]}_as_{q[typ.start : typ.base_end].lower()}", end
        parts = ["all"] if args == ["*"] else []
        if args and not parts:
            first = skip(open_ + 1)
            first += len("DISTINCT") if word(first) == "DISTINCT" else 0
            cuts = [first - 1, *_top_commas(q, open_ + 1, end - 1), end - 1]
            parts = [whole(a + 1, b) for a, b in zip(cuts, cuts[1:])]
        if None in parts:
            return None
        w = windows.get(start)
        if w and q[end : w.open].strip().upper() == "OVER":
            return name.lower(), w.close + 1
        return "_".join([name.lower(), *parts]), end

    return whole


# Aggregate functions: the reference's, and the Spark ones its rewrites
# emit (ARRAY_AGG → COLLECT_LIST, ARG_MIN → MIN_BY, ...), which
# ``inline_select_aliases`` reads in rewritten text.
_AGGREGATE_FUNCS = frozenset({
    "COUNT", "SUM", "AVG", "MIN", "MAX", "COUNTIF", "COUNT_IF",
    "ARRAY_AGG", "STRING_AGG", "GROUP_CONCAT", "LISTAGG", "STDDEV",
    "STDDEV_SAMP", "STDDEV_POP", "VARIANCE", "VAR_SAMP", "VAR_POP",
    "MEDIAN", "PERCENTILE_CONT", "PERCENTILE_DISC", "APPROX_QUANTILE",
    "JSON_GROUP_ARRAY", "JSON_GROUP_OBJECT", "JSON_ARRAYAGG",
    "JSON_OBJECTAGG", "BOOL_AND", "BOOL_OR",
    "ANY_VALUE", "FIRST", "LAST", "MODE", "CORR", "COVAR_SAMP",
    "COVAR_POP", "BIT_AND", "BIT_OR", "BIT_XOR", "EVERY", "SOME", "ANY",
    "COLLECT_LIST", "COLLECT_SET", "PERCENTILE", "PERCENTILE_APPROX",
    "APPROX_PERCENTILE", "MIN_BY", "MAX_BY",
})


def _alias_sub(expr: str, amap: dict[str, str]) -> str:
    """Replace bare alias tokens in ``expr`` with their parenthesized
    definitions (never touching qualified/dotted or call positions, nor
    matches inside string literals)."""
    for al, ex in amap.items():
        expr = _sub_outside_strings(
            expr,
            re.compile(rf"(?<![\w.\"']){re.escape(al)}(?![\w.(])"),
            lambda m, _ex=ex: f"({_ex})",
        )
    return expr


# A column reference: plain or backticked names joined by dots.
_REF_PART = r"[A-Za-z_][\w$]*|`[^`]+`"
_BARE_REF_RE = re.compile(rf"(?:{_REF_PART})(?:\.(?:{_REF_PART}))*")


def _last_name(ref: str) -> str:
    """The column part of a ``_BARE_REF_RE`` reference, as written."""
    return re.findall(_REF_PART, ref)[-1]


def _star_columns(q: str, sel: _Select, spark) -> list[str] | None:
    """The columns a ``*`` of ``sel`` stands for, as select items, when
    its FROM clause is one table of the resolution snapshot; else None."""
    items = [it for it in _from_items(q) if _stmt_of(q, it.kw) == sel]
    views = _snapshot(spark)
    if len(items) != 1 or items[0].kind != "table" or not views:
        return None
    name = items[0].name.lower()
    schema = next((s for n, s in views.items() if n.lower() == name), None)
    return schema and [
        f.name if _PLAIN_NAME_RE.fullmatch(f.name)
        else "`" + f.name.replace("`", "``") + "`"
        for f in schema.fields
    ]


def inline_select_aliases(q: str, spark=None) -> str | None:
    """The one retry rewrite for the reference's GROUP BY and alias
    shapes Spark rejects, over the outermost statement (``_main_select``);
    the engine runs it only after Spark rejected the statement:

    - aliased items get earlier aliases inlined (``x AS a, a+1 AS b`` →
      ``x AS a, (x)+1 AS b``) and GROUP BY keys that are bare aliases
      become their definitions (execute.group 'chained SELECT alias');
    - alias tokens INSIDE larger ORDER BY / HAVING expressions are
      substituted (``ORDER BY SUM(a)`` → ``SUM((age))``, execute.orderby);
      a bare alias as the whole sort key resolves natively;
    - loose GROUP BY: when the statement groups (a GROUP BY, or an
      aggregate without one), each item that is no group key and holds
      no aggregate reads the group's first row through ``any_value`` (as
      the reference's row-object evaluation does); a bare column keeps
      its name, and a ``*`` over one snapshot table is expanded first.

    Returns None when nothing applies."""
    sel = _main_select(q)
    if sel is None:
        return None

    def norm(e: str) -> str:
        return re.sub(r"[\s()]", "", e).lower()

    edits = {}  # (start, end) → replacement text
    amap: dict[str, str] = {}
    for it in sel.items:
        if it.alias:
            expr = _alias_sub(q[it.start : it.expr_end], amap)
            if _PLAIN_NAME_RE.fullmatch(it.alias):
                amap[it.alias] = expr
            edits[it.start, it.expr_end] = expr
    group = sel.clauses.get("GROUP BY")
    raw = _split_top_args(q[group[1] : group[2]]) if group else []
    keys = [f"({amap[k]})" if k in amap else k for k in raw]
    if keys != raw:
        edits[group[1:]] = ", ".join(keys)
    keys = {norm(k) for k in keys} | {
        _last_name(k).lower() for k in raw if _BARE_REF_RE.fullmatch(k)
    }
    # ORDER BY / HAVING: substitute aliases inside larger expressions
    # only — a whole-key alias resolves natively and (for `count`-style
    # aliases of aggregates) substituting it is never necessary.
    for name in ("HAVING", "ORDER BY"):
        if name in sel.clauses and amap:
            _, start, end = sel.clauses[name]
            parts = []
            for p in _split_top_args(q[start:end]):
                bare = _PLAIN_NAME_RE.match(p)
                whole = bare and bare.group() in amap and (
                    _ORDER_TAIL_RE.fullmatch(p, bare.end())
                )
                parts.append(p if whole else _alias_sub(p, amap))
            edits[start, end] = ", ".join(parts)

    def loose(e: str) -> bool:
        """``e`` is no group key and holds no aggregate."""
        return not (
            norm(e) in keys
            or _BARE_REF_RE.fullmatch(e) and _last_name(e).lower() in keys
            or any(_iter_calls(e, _AGGREGATE_FUNCS))
        )

    def first_value(ref: str) -> str:
        return f"any_value({ref}) AS {_last_name(ref)}" if loose(ref) else ref

    head = q[sel.head_end : sel.items[-1].end]
    if group or any(  # without GROUP BY an aggregate makes one group
        not _OVER_RE.match(head, end)
        for _, _, _, end in _iter_calls(head, _AGGREGATE_FUNCS)
    ):
        for it in sel.items:
            text = q[it.start : it.end]
            if it.alias:
                expr = edits[it.start, it.expr_end]
                if loose(expr):
                    edits[it.start, it.expr_end] = f"any_value({expr})"
            elif text == "*" and (cols := _star_columns(q, sel, spark)):
                edits[it.start, it.end] = ", ".join(map(first_value, cols))
            elif _BARE_REF_RE.fullmatch(text):
                edits[it.start, it.end] = first_value(text)
    out = q
    for start, end in sorted(edits, reverse=True):
        out = out[:start] + edits[start, end] + out[end:]
    return out if out != q else None


def _rewrite_auto_alias(q: str) -> str:
    """Append reference-style aliases to the unaliased select items of
    the outermost statement and of each CTE body's statement (the names a
    ``SELECT *`` over the CTE shows)."""
    heads = [_main_select(q)] + [
        next((x for x in _selects(q) if c.open < x.start < c.close), None)
        for c in _ctes(q)
    ]
    items = [
        it for sel in filter(None, heads) for it in sel.items
        if not it.alias and it.start < it.end
        and q[it.end - 1] != "*"  # ``*`` and ``t.*``
        and not re.fullmatch(r"[A-Za-z_][\w$]*|`[^`]+`", q[it.start : it.end])
    ]
    # An implicit alias, ``expr name``, is no chain the namer reads: such
    # an item stays as written.
    name_of = items and _namer(q)
    for it in sorted(items, key=lambda it: it.end, reverse=True):
        if (name := name_of(it.start, it.end)) is not None:
            name = name.replace("`", "``")
            q = q[: it.end] + f" AS `{name}`" + q[it.end :]
    return q


# Row-numbered views of the two POSITIONAL JOIN sides, one pair per
# rewritten join; drop_scratch_views removes them after analysis.
_SCRATCH_PREFIX = "__sq_posv_"
_SCRATCH_RE = re.compile(rf"\b{_SCRATCH_PREFIX}[0-9a-f]{{8}}\b")


def _rewrite_positional_join(
    q: str,
    spark: SparkSession,
    pos_order: dict[str, list[str]] | None = None,
) -> str:
    """``FROM a POSITIONAL JOIN b`` → full outer join of the two sides'
    row-numbered views on the window-free global row number
    (`operators/positional_join._with_rn` — parallel range numbering, no
    single-task WindowExec). A side without a ``pos_order`` key that the
    resolution snapshot numbers on the driver (a memory table, whose
    positions are its list indices) uses that numbering instead. The
    statement's ``SELECT *`` is expanded to the explicit column list so
    the internal row-number column stays hidden."""
    pos_order = pos_order or {}
    c = getattr(_REF_CACHE, "c", None) or {}
    numbered = c.get("numbered", {})

    def rewrite(q, items, i):
        left, right = items[i - 1], items[i]
        if i == 0 or left.join != "FROM" or (left.kind, right.kind) != (
            "table", "table"
        ):
            return q
        sides = []
        for it in (left, right):
            raw = q[it.start : it.rel_end]
            order = pos_order.get(it.name)
            by_index = order is None and numbered.get(it.name.lower())
            if by_index:
                rn = by_index()
                cols = [f for f in rn.columns if f != _RN]
            else:
                src = spark.table(raw)
                rn, cols = _with_rn(src, order), src.columns
            view = f"{_SCRATCH_PREFIX}{uuid.uuid4().hex[:8]}"
            rn.createOrReplaceTempView(view)
            if "views" in c:
                c["views"][view] = rn.schema
            alias = it.alias or (raw if it.quoted else it.name.split(".")[-1])
            sides.append((view, alias, cols))
        (lv, la, lcols), (rv, ra, rcols) = sides
        q = (
            q[: left.kw]
            + f"FROM {lv} AS {la} FULL OUTER JOIN {rv} AS {ra} "
            + f"ON {la}.{_RN} = {ra}.{_RN}"
            + q[right.end :]
        )
        # Expand the bare ``*`` items of the statement that owns the FROM:
        # the rn columns must not leak into it.
        cols = ", ".join(
            [f"{la}.{c}" for c in lcols] + [f"{ra}.{c}" for c in rcols]
        )
        for it in reversed(_stmt_of(q, left.kw).items):
            if q[it.start : it.end] == "*":
                q = q[: it.start] + cols + q[it.end :]
        return q

    starts = [
        it.start for it in _from_items(q) if it.join == "POSITIONAL JOIN"
    ]
    return _rewrite_items(q, starts, rewrite)


def drop_scratch_views(spark: SparkSession, query: str) -> None:
    """Drop the scratch views a rewrite registered for ``query`` (the
    rewritten text names them). Call it once spark.sql has analyzed every
    statement built from that text: an analyzed plan holds the view's
    body, so its result still collects after the drop."""
    c = getattr(_REF_CACHE, "c", None)
    for view in set(_SCRATCH_RE.findall(query)):
        spark.catalog.dropTempView(view)
        if c is not None and "views" in c:
            c["views"].pop(view, None)


def rewrite_reference_sql(
    query: str,
    spark: SparkSession | None = None,
    like_mode: str = "ansi",
    pos_order: dict[str, list[str]] | None = None,
    ident_quotes: str = "spark",
) -> str:
    """Apply the reference-dialect rewrites. The three syntax extensions
    (POSITIONAL JOIN, FROM-clause JSON_EACH, ``123n``) are not valid Spark
    SQL, so rewriting them is always safe; ``like_mode="ci"`` opts into the
    reference's case-insensitive LIKE (off by default — ANSI semantics and
    the DuckDB oracle agree on case-sensitive LIKE).

    ``pos_order`` maps table names to sort keys defining row position for
    POSITIONAL JOIN. The reference (single-node, ordered arrays) zips
    physical row order; on a distributed engine that order is only
    well-defined given an explicit key — without a hint we zip the current
    scan order (deterministic for single-split files, the DuckDB caveat).

    Column references resolve against the enclosing
    ``ref_resolution_cache`` snapshot (execute_sql's table map), else
    against one snapshot of the session's temp views. An unscoped ``a.b``
    that names a flat column "a.b" of a FROM table is backtick-quoted
    (``_quote_flat_dotted``). POSITIONAL JOIN registers scratch views
    that the returned text names; drop them with ``drop_scratch_views``
    once the statement is analyzed."""
    with ref_resolution_cache():
        return _rewrite_reference_sql_inner(
            query, spark, like_mode, pos_order, ident_quotes
        )


def _rewrite_reference_sql_inner(
    query, spark, like_mode, pos_order, ident_quotes
):
    query = _quote_table_names(query, spark)
    if ident_quotes == "ansi" and '"' in query:
        query = _rewrite_double_quoted_idents(query)
    query = _rewrite_from_first(query)
    # Wish-list operator sugar (->/->>, GLOB, ~, EXCLUDE, DISTINCT ON)
    # rewrites before aliasing: the reference never parsed these, so
    # there is no reference-derived name to preserve for them.
    if re.search(r"->|~|\bGLOB\b|\bEXCLUDE\b|\bDISTINCT\s+ON\b", query, re.I):
        query = _rewrite_wishlist(query)
    # Derived aliases come FIRST: the reference names unaliased columns
    # from the ORIGINAL expression text (alias.js), so naming must see the
    # query before function rewrites change the text.
    query = _rewrite_auto_alias(query)
    # after naming: a flat ``a.b`` item keeps the derived name ``b``
    query = _quote_flat_dotted(query, spark)
    if "[" in query:
        query = _rewrite_array_literals(query)
    up = query.upper()
    if "UNNEST" in up and "COUNT" in up:
        query = _rewrite_correlated_unnest_count(query)
    if "UNNEST" in up or "EXPLODE" in up or "JSON_EACH" in up:
        query = _rewrite_table_functions(query, spark)
    if "POSITIONAL" in up:
        if spark is None:
            raise ValueError("POSITIONAL JOIN rewrite needs a SparkSession")
        query = _rewrite_positional_join(query, spark, pos_order)
    query = _rewrite_calls(query, _DATE_CALLS)
    if _WHERE_GROUP_RE.search(query):
        query = _unwrap_where_groups(query)
    if spark is not None:
        if "[" in query:
            query = _rewrite_dynamic_access(query, spark)
        query = _rewrite_dynamic_typing(query, spark)
    query = _rewrite_concat_precedence(query)
    query = _rewrite_function_dialect(query)
    if _BIGINT_RE.search(query):
        query = _rewrite_bigint_literals(query)
    if like_mode == "ci":
        query = _rewrite_like_ci(query)
    return query
