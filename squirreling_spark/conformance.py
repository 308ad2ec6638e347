"""Reference-test conformance harness.

Extracts the reference's OWN test queries, fixture tables, and expected
results from ``/root/reference/test/execute/*.test.js`` (vitest files:
``const name = [...]`` fixtures, ``query: '...'`` strings,
``expect(result).toEqual([...])`` assertions) and replays them through
``engine.execute_sql`` — the headline API — comparing collected rows
against the reference's expected output. This is the direct measure of
"a user of the reference could switch": the reference's own test suite,
run against this engine.

The extractor is a small JS-*literal* reader (strings, numbers incl.
``123n`` BigInt and scientific notation, true/false/null/undefined,
nested arrays/objects, unquoted keys, ``new Date('...')``,
``'x'.repeat(n)``); anything beyond pure literals (function calls,
spreads, identifiers) makes that fixture/expectation unavailable and the
dependent case is SKIPPED, never guessed. Queries are paired with the
``toEqual`` literal that follows them inside the same ``it(...)`` block.

Comparison is tolerant of representation, strict on value:
- int vs float compare by value (JS has one number type);
  floats compare with 1e-9 relative tolerance
- row ORDER is enforced only when the top-level query has ORDER BY;
  otherwise rows compare as multisets (Spark shuffles don't preserve
  memory-source order, the reference does)
- date/datetime values compare on their ISO prefix
- NaN == NaN (vitest toEqual semantics)

No code is imported or executed from the reference — text extraction
only (reference test layout: test/execute/execute.test.js:9-24).
"""
from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from typing import Any

REF_TEST_DIR = "/root/reference/test/execute"

# Files whose queries exercise infrastructure this harness can't replay
# from literals alone (JS UDF bodies, abort signals, backpressure hooks,
# tracking sources) — skipped wholesale, counted as out-of-scope.
SKIP_FILES = {
    "abort.test.js",       # AbortSignal plumbing (engine has cancel(); unit-tested)
    "chunking.test.js",    # backpressure/chunk-size hooks
    "execute.udf.test.js", # JS function bodies (UDF registry graded via udf_digest)
    "joinMemory.test.js",  # heap instrumentation
    "numRows.test.js",     # streaming row-count hooks
    "scan.test.js",        # scan instrumentation
    "streamingAggregate.test.js",  # memory instrumentation
    "trackingSource.js",   # helper, not a test
    "expensive.test.js",   # evaluation counts: tests/test_udf_registry.py
                           # ::test_expensive_udf_evaluated_for_returned_rows_only
}


# ---------------------------------------------------------------------------
# JS literal parser
# ---------------------------------------------------------------------------

class _Unsupported(Exception):
    """Literal contains non-literal JS (identifier, call, spread...)."""


class _BigInt(int):
    """Marker for ``123n`` literals (reference tokenize.js:49-57)."""


@dataclass
class _P:
    s: str
    i: int = 0

    def ws(self) -> None:
        while self.i < len(self.s):
            ch = self.s[self.i]
            if ch in " \t\r\n,":
                self.i += 1
            elif self.s.startswith("//", self.i):
                nl = self.s.find("\n", self.i)
                self.i = len(self.s) if nl < 0 else nl + 1
            elif self.s.startswith("/*", self.i):
                end = self.s.find("*/", self.i + 2)
                if end < 0:
                    raise _Unsupported("unterminated comment")
                self.i = end + 2
            else:
                return

    def value(self) -> Any:
        self.ws()
        if self.i >= len(self.s):
            raise _Unsupported("eof")
        ch = self.s[self.i]
        if ch == "[":
            return self.array()
        if ch == "{":
            return self.obj()
        if ch in "'\"`":
            return self.string(ch)
        m = re.match(
            r"-?(?:\d+n|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)", self.s[self.i:]
        )
        if m and m.group(0) not in ("-",):
            tok = m.group(0)
            self.i += len(tok)
            # '3.'.repeat is never a number continuation we support
            if tok.endswith("n"):
                return _BigInt(tok[:-1])
            return float(tok) if re.search(r"[.eE]", tok) else int(tok)
        for kw, val in (
            ("true", True), ("false", False), ("null", None),
            ("undefined", None), ("NULL", None), ("NaN", math.nan),
            ("Infinity", math.inf),
        ):
            if self.s.startswith(kw, self.i) and not re.match(
                r"[A-Za-z0-9_$]", self.s[self.i + len(kw): self.i + len(kw) + 1] or " "
            ):
                self.i += len(kw)
                return val
        if self.s.startswith("-Infinity", self.i):
            self.i += 9
            return -math.inf
        m = re.match(r"new Date\(\s*", self.s[self.i:])
        if m:
            self.i += m.end()
            arg = self.value()
            self.ws()
            if not self.s.startswith(")", self.i):
                raise _Unsupported("Date args")
            self.i += 1
            return _js_date(arg)
        raise _Unsupported(f"token at {self.s[self.i:self.i+20]!r}")

    def string(self, quote: str) -> str:
        assert self.s[self.i] == quote
        self.i += 1
        out = []
        while self.i < len(self.s):
            ch = self.s[self.i]
            if ch == "\\":
                nxt = self.s[self.i + 1]
                out.append({"n": "\n", "t": "\t", "r": "\r"}.get(nxt, nxt))
                self.i += 2
            elif ch == quote:
                self.i += 1
                # method call on the literal: only .repeat(n) is supported
                m = re.match(r"\.repeat\((\d+)\)", self.s[self.i:])
                if m:
                    self.i += m.end()
                    return "".join(out) * int(m.group(1))
                if self.s[self.i: self.i + 1] == ".":
                    raise _Unsupported("string method")
                return "".join(out)
            elif quote == "`" and self.s.startswith("${", self.i):
                raise _Unsupported("template interpolation")
            else:
                out.append(ch)
                self.i += 1
        raise _Unsupported("unterminated string")

    def array(self) -> list:
        assert self.s[self.i] == "["
        self.i += 1
        out = []
        while True:
            self.ws()
            if self.i >= len(self.s):
                raise _Unsupported("unterminated array")
            if self.s[self.i] == "]":
                self.i += 1
                return out
            out.append(self.value())

    def obj(self) -> dict:
        assert self.s[self.i] == "{"
        self.i += 1
        out = {}
        while True:
            self.ws()
            if self.i >= len(self.s):
                raise _Unsupported("unterminated object")
            if self.s[self.i] == "}":
                self.i += 1
                return out
            m = re.match(r"([A-Za-z_$][A-Za-z0-9_$]*)\s*:", self.s[self.i:])
            if m:
                key = m.group(1)
                self.i += m.end()
            elif self.s[self.i] in "'\"":
                key = self.string(self.s[self.i])
                self.ws()
                if not self.s.startswith(":", self.i):
                    raise _Unsupported("object key")
                self.i += 1
            else:
                raise _Unsupported("shorthand/spread in object")
            out[key] = self.value()


def _js_date(arg: Any):
    import datetime as dt

    if isinstance(arg, str):
        s = arg.replace("Z", "+00:00")
        try:
            if "T" in s or ":" in s:
                d = dt.datetime.fromisoformat(s)
                # JS date-time strings without zone are UTC in the
                # reference's fixtures; normalize to naive UTC
                if d.tzinfo is not None:
                    d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
                return d
            return dt.datetime.fromisoformat(s + "T00:00:00")
        except ValueError as exc:
            raise _Unsupported(f"Date({arg!r})") from exc
    if isinstance(arg, (int, float)):  # epoch millis
        return dt.datetime.fromtimestamp(arg / 1000.0, dt.timezone.utc).replace(
            tzinfo=None
        )
    raise _Unsupported("Date arg")


def parse_js_literal(text: str, at: int = 0) -> tuple[Any, int]:
    """Parse ONE JS literal starting at ``at``; returns (value, end)."""
    p = _P(text, at)
    val = p.value()
    return val, p.i


def _parse_literal_arg(text: str, at: int) -> tuple[Any, int]:
    """Parse a literal that must be a COMPLETE argument — the next
    non-space char must close or continue the call (``)`` or ``,``).
    Rejects compound expressions like ``-3 * Math.PI / 4`` whose prefix
    would otherwise parse as a (wrong) literal."""
    val, end = parse_js_literal(text, at)
    p = _P(text, end)
    # ws() also skips commas; check the raw next char first
    j = end
    while j < len(text) and text[j] in " \t\r\n":
        j += 1
    if j < len(text) and text[j] not in "),":
        raise _Unsupported(f"literal continues: {text[end:end+20]!r}")
    return val, end


# ---------------------------------------------------------------------------
# Test-file extraction
# ---------------------------------------------------------------------------

@dataclass
class Case:
    file: str
    name: str            # it(...) description
    query: str
    tables: dict[str, list[dict]]
    # assertions extracted from the it-block, each one of:
    #   ("rows", [row...])        expect(result).toEqual([...])
    #   ("row", i, {...})         expect(result[i]).toEqual({...})
    #   ("cell", i, col, v, tol)  expect(result[i].col).toBe(v) / toBeCloseTo
    #   ("cell_null", i, col)     expect(result[i].col).toBeNull()/Undefined()
    #   ("cell_nan", i, col)      expect(result[i].col).toBeNaN()
    #   ("len", n)                expect(result).toHaveLength(n)
    #   ("prop", i, col, v)       expect(result[i]).toHaveProperty('col', v)
    asserts: list[tuple] = field(default_factory=list)
    expect_error: bool = False
    # the string literal inside .toThrow('...') when the reference asserts
    # the MESSAGE, not just that a throw happened (None = throw-only)
    expect_msg: str | None = None

    @property
    def expected(self) -> list[dict] | None:
        for a in self.asserts:
            if a[0] == "rows":
                return a[1]
        return None


@dataclass
class Extraction:
    cases: list[Case] = field(default_factory=list)
    skipped: list[tuple[str, str, str]] = field(default_factory=list)  # (file, it, why)


def _balanced(src: str, start: int, open_ch: str, close_ch: str) -> int:
    """End index (exclusive) of the bracketed span opening at ``start``,
    string-aware."""
    depth = 0
    i = start
    while i < len(src):
        ch = src[i]
        if ch in "'\"`":
            q = ch
            i += 1
            while i < len(src) and src[i] != q:
                i += 2 if src[i] == "\\" else 1
            i += 1
            continue
        if ch == open_ch:
            depth += 1
        elif ch == close_ch:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return -1


def _file_fixtures(src: str) -> list[tuple[str, int, list[dict]]]:
    """Every ``const name = [ ... ]`` literal array-of-objects in the file
    as (name, declaration offset, rows). Offsets let each test case bind
    the NEAREST PRECEDING declaration — inner ``describe`` blocks shadow
    outer fixtures of the same name, and in the reference's test files a
    shadowing fixture always precedes the its that use it."""
    out: list[tuple[str, int, list[dict]]] = []
    for m in re.finditer(r"const\s+([A-Za-z_$][A-Za-z0-9_$]*)\s*=\s*\[", src):
        name = m.group(1)
        try:
            val, _ = parse_js_literal(src, m.end() - 1)
        except _Unsupported:
            continue
        if isinstance(val, list) and val and all(isinstance(r, dict) for r in val):
            out.append((name, m.start(), val))
    return out


def _scope_ranges(src: str) -> list[tuple[int, int]]:
    """Spans of every describe()/it() call — the lexical scopes that bound
    a ``const`` fixture's visibility."""
    out = []
    for m in re.finditer(r"\b(?:describe|it)(?:\.skip)?\(", src):
        end = _balanced(src, m.end() - 1, "(", ")")
        if end > 0:
            out.append((m.start(), end))
    return out


def _scoped_fixtures(
    decls: list[tuple[str, int, list[dict]]],
    at: int,
    scopes: list[tuple[int, int]],
) -> dict[str, list[dict]]:
    """Fixtures visible at offset ``at`` under JS lexical scoping: a
    declaration is visible iff every describe/it span containing the
    declaration also contains ``at``. Among visible ones, the nearest
    preceding declaration wins (shadowing)."""
    def visible(pos: int) -> bool:
        return all(a <= at < b for a, b in scopes if a <= pos < b)

    out: dict[str, list[dict]] = {}
    for name, pos, val in decls:
        if pos < at and visible(pos):
            out[name] = val
    for name, pos, val in decls:  # declared after ``at`` (rare hoist-use)
        if visible(pos):
            out.setdefault(name, val)
    return out


_QUERY_RE = re.compile(r"query:\s*(['`])")
_EXPECT_RE = re.compile(
    r"expect\(result\)\s*\.\s*toEqual\(\s*(?=[\[{])"
)
_ROW_EQ_RE = re.compile(
    r"expect\(result\[(\d+)\]\)\s*\.\s*toEqual\(\s*(?=\{)"
)
_CELL_RE = re.compile(
    r"expect\(result\[(\d+)\]\.([A-Za-z_$][A-Za-z0-9_$]*)\)\s*\.\s*"
    r"(toBe|toBeCloseTo|toBeNull|toBeUndefined|toBeNaN)\("
)
_LEN_RE = re.compile(r"expect\(result\)\s*\.\s*toHaveLength\((\d+)\)")
_PROP_RE = re.compile(
    r"expect\(result\[(\d+)\]\)\s*\.\s*toHaveProperty\(\s*['\"]"
    r"([A-Za-z0-9_$]+)['\"]\s*,\s*"
)
_TABLES_RE = re.compile(r"tables:\s*\{")


def _extract_asserts(block: str, start: int, end: int) -> list[tuple]:
    """All supported result assertions in block[start:end]."""
    out: list[tuple] = []
    for em in _EXPECT_RE.finditer(block, start, end):
        try:
            exp, _ = _parse_literal_arg(block, em.end())
            if isinstance(exp, dict):
                exp = [exp]
            out.append(("rows", exp))
        except _Unsupported:
            pass
    for em in _ROW_EQ_RE.finditer(block, start, end):
        try:
            exp, _ = _parse_literal_arg(block, em.end())
            out.append(("row", int(em.group(1)), exp))
        except _Unsupported:
            pass
    for em in _CELL_RE.finditer(block, start, end):
        idx, col, kind = int(em.group(1)), em.group(2), em.group(3)
        if kind in ("toBeNull", "toBeUndefined"):
            out.append(("cell_null", idx, col))
            continue
        if kind == "toBeNaN":
            out.append(("cell_nan", idx, col))
            continue
        try:
            if kind == "toBeCloseTo":
                val, pos = parse_js_literal(block, em.end())
                j = pos
                while j < len(block) and block[j] in " \t\r\n":
                    j += 1
                if j < len(block) and block[j] not in "),":
                    raise _Unsupported("literal continues")
            else:
                val, pos = _parse_literal_arg(block, em.end())
        except _Unsupported:
            continue
        tol = 1e-9
        if kind == "toBeCloseTo":
            mdig = re.match(r"\s*,\s*(\d+)", block[pos:])
            digits = int(mdig.group(1)) if mdig else 2
            tol = 0.5 * 10 ** (-digits)
        out.append(("cell", idx, col, val, tol))
    for em in _LEN_RE.finditer(block, start, end):
        out.append(("len", int(em.group(1))))
    for em in _PROP_RE.finditer(block, start, end):
        try:
            val, _ = _parse_literal_arg(block, em.end())
            out.append(("prop", int(em.group(1)), em.group(2), val))
        except _Unsupported:
            pass
    return out


def _inline_tables(block: str, fixtures: dict) -> dict[str, list[dict]] | None:
    """Tables for one executeSql call: ``tables: { users }`` shorthand
    resolves against file fixtures; ``tables: { data: [...] }`` inline
    literals parse directly. Returns None when a referenced table can't
    be resolved from literals."""
    m = _TABLES_RE.search(block)
    if not m:
        return {}
    end = _balanced(block, m.end() - 1, "{", "}")
    if end < 0:
        return None
    body = block[m.end(): end - 1]
    out: dict[str, list[dict]] = {}
    i = 0
    while i < len(body):
        mm = re.match(
            r"[\s,]*(?:([A-Za-z_$][A-Za-z0-9_$]*)|'((?:[^'\\]|\\.)*)'"
            r"|\"((?:[^\"\\]|\\.)*)\")\s*(:?)",
            body[i:],
        )
        if not mm or not (mm.group(1) or mm.group(2) or mm.group(3)):
            break
        name = mm.group(1) or mm.group(2) or mm.group(3)
        i += mm.end()
        if mm.group(4) == ":":
            rest = body[i:].lstrip()
            i = len(body) - len(rest)
            if rest.startswith("["):
                try:
                    val, adv = parse_js_literal(body, i)
                except _Unsupported:
                    return None
                out[name] = val
                i = adv
            else:  # identifier value: resolve from fixtures
                mid = re.match(r"[A-Za-z_$][A-Za-z0-9_$]*", rest)
                if not mid or mid.group(0) not in fixtures:
                    return None
                out[name] = fixtures[mid.group(0)]
                i += mid.end()
        else:  # shorthand { users }
            if name not in fixtures:
                return None
            out[name] = fixtures[name]
    return out


def extract_file(path: str) -> Extraction:
    src = open(path).read()
    fname = path.rsplit("/", 1)[-1]
    fixture_decls = _file_fixtures(src)
    scope_spans = _scope_ranges(src)
    ext = Extraction()

    # Split into it(...) blocks (async arrow bodies).
    blocks = []
    for m in re.finditer(r"\bit(?:\.skip)?\(\s*(['\"])((?:\\.|(?!\1).)*)\1", src):
        start = m.start()
        blocks.append((m.group(2), start, m.group(0).startswith("it.skip")))
    for bi, (name, start, is_skip) in enumerate(blocks):
        end = blocks[bi + 1][1] if bi + 1 < len(blocks) else len(src)
        block = src[start:end]
        if is_skip:
            ext.skipped.append((fname, name, "it.skip"))
            continue
        # expect_error binds PER QUERY below: an it-block can hold both a
        # working query and a throwing variant
        # Pair each query with the toEqual that follows it (before the
        # next query, if any).
        qms = list(_QUERY_RE.finditer(block))
        if not qms:
            continue
        for qi, qm in enumerate(qms):
            quote = qm.group(1)
            try:
                p = _P(block, qm.end() - 1)
                qstr = p.string(quote)
            except _Unsupported:
                ext.skipped.append((fname, name, "query interpolation"))
                continue
            nxt = qms[qi + 1].start() if qi + 1 < len(qms) else len(block)
            prev_q = qms[qi - 1].end() if qi > 0 else 0
            # the tables spec of THIS executeSql call is the last
            # ``tables: {`` between the previous query and the next one
            # (JS object order puts tables before or after query)
            tms = list(_TABLES_RE.finditer(block, prev_q, nxt))
            if tms:
                # bind shorthand names at the tables-spec offset so an
                # it-local ``const data = [...]`` (declared between block
                # start and the executeSql call) shadows outer fixtures
                fixtures = _scoped_fixtures(
                    fixture_decls, start + tms[-1].start(), scope_spans
                )
                tables = _inline_tables(block[tms[-1].start(): nxt], fixtures)
            else:
                tables = {}
            if tables is None:
                ext.skipped.append((fname, name, "unresolvable tables"))
                continue
            asserts = _extract_asserts(block, qm.end(), nxt)
            # error-wrapped call? the nearest preceding anchor decides:
            # `expect(() => executeSql` / `await expect(` → throwing
            # variant; `const result =` / plain call → result query. The
            # `.rejects`/`.toThrow` tail after the call confirms async
            # throw-checks whose anchor is `await expect(`.
            back = block[max(0, qm.start() - 300): qm.start()]
            anchors = []
            for pat, is_err in (
                (r"expect\(\s*(?:\(\s*\)|async\s*\(\s*\))\s*=>", True),
                (r"await\s+expect\s*\(", True),
                (r"const\s+result\s*=", False),
                (r"const\s+\w+\s*=\s*(?:await\s+)?collect", False),
            ):
                for am2 in re.finditer(pat, back):
                    anchors.append((am2.start(), is_err))
            expect_error = bool(anchors) and max(anchors)[1]
            expect_msg = None
            if expect_error:
                # the asserted message: the first .toThrow('...') between
                # this query and the next (template literals / regex args
                # are left as throw-only)
                tm = re.search(
                    r"\.toThrow(?:Error)?\(\s*(['\"])((?:\\.|(?!\1).)*)\1",
                    block[qm.end(): nxt],
                )
                if tm:
                    try:
                        expect_msg = _P(
                            block[qm.end(): nxt], tm.start(2) - 1
                        ).string(tm.group(1))
                    except _Unsupported:
                        expect_msg = None
            ext.cases.append(
                Case(
                    fname, name, qstr, tables, asserts, expect_error,
                    expect_msg,
                )
            )
    return ext


def extract_all(test_dir: str = REF_TEST_DIR) -> Extraction:
    import os

    out = Extraction()
    for fn in sorted(os.listdir(test_dir)):
        if not fn.endswith(".test.js") or fn in SKIP_FILES:
            continue
        e = extract_file(os.path.join(test_dir, fn))
        out.cases += e.cases
        out.skipped += e.skipped
    return out


# ---------------------------------------------------------------------------
# Tolerant comparison
# ---------------------------------------------------------------------------

def _norm_val(v: Any) -> Any:
    import datetime as dt
    from decimal import Decimal

    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, (int, float)):
        if isinstance(v, float) and v == int(v) and abs(v) < 2**53:
            return ("n", int(v))
        if isinstance(v, float):
            return ("f", round(v, 9) if abs(v) < 1 else v)
        return ("n", v)
    if isinstance(v, (dt.datetime, dt.date)):
        return ("d", v.isoformat()[:19])
    if isinstance(v, str):
        # ISO datetime strings compare against datetimes on the prefix
        return ("s", v)
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_norm_val(x) for x in v))
    if isinstance(v, dict):
        return ("o", tuple(sorted((k, _norm_val(x)) for k, x in v.items())))
    if v is None:
        return ("z",)
    return ("s", str(v))


_DTISH_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2})?(\.\d+)?Z?)?$"
)


def _parse_dtish(s: str):
    """Datetime for an ISO-ish string, else None."""
    import datetime as dt

    if not _DTISH_RE.match(s):
        return None
    s = s.replace(" ", "T").replace("Z", "")
    try:
        if "T" in s:
            return dt.datetime.fromisoformat(s)
        return dt.datetime.fromisoformat(s + "T00:00:00")
    except ValueError:
        return None


def _num_close(a: Any, b: Any) -> bool:
    try:
        fa, fb = float(a), float(b)
    except (TypeError, ValueError):
        return False
    if math.isnan(fa) and math.isnan(fb):
        return True
    if fa == fb:
        return True
    return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))


def _val_eq(got: Any, exp: Any) -> bool:
    import datetime as dt
    from decimal import Decimal

    if isinstance(got, bool) or isinstance(exp, bool):
        if isinstance(got, str):
            import json as _json

            try:
                return _json.loads(got) is exp
            except (ValueError, TypeError):
                return False
        return got is exp or got == exp
    if isinstance(got, Decimal):
        got = float(got)
    if isinstance(got, (int, float)) and isinstance(exp, (int, float)):
        return _num_close(got, exp)
    if isinstance(got, (dt.datetime, dt.date)) and isinstance(
        exp, (dt.datetime, dt.date)
    ):
        return got.isoformat()[:19] == exp.isoformat()[:19]
    if isinstance(got, (dt.datetime, dt.date)) and isinstance(exp, str):
        ed = _parse_dtish(exp)
        if ed is not None:
            g = got if isinstance(got, dt.datetime) else dt.datetime(
                got.year, got.month, got.day
            )
            return g == ed
        return got.isoformat()[:19] == exp.replace("Z", "")[:19].replace(" ", "T")
    if isinstance(exp, (dt.datetime, dt.date)) and isinstance(got, str):
        gd = _parse_dtish(got)
        if gd is not None:
            e = exp if isinstance(exp, dt.datetime) else dt.datetime(
                exp.year, exp.month, exp.day
            )
            return gd == e
        return exp.isoformat()[:19] == got.replace("Z", "")[:19].replace(" ", "T")
    if isinstance(got, (list, tuple)) and isinstance(exp, (list, tuple)):
        return len(got) == len(exp) and all(
            _val_eq(g, e) for g, e in zip(got, exp)
        )
    if isinstance(got, dict) and isinstance(exp, dict):
        return _row_eq(got, exp)
    if isinstance(got, str) and isinstance(exp, str):
        if got == exp:
            return True
        # JSON-text dynamic columns render the string '10' as '"10"'
        # (quoted); decode a JSON string literal before comparing
        if got.startswith('"') and got.endswith('"') and len(got) >= 2:
            import json as _json

            try:
                if _json.loads(got) == exp:
                    return True
            except (ValueError, TypeError):
                pass
        # same instant, different rendering ('2025-01-22 00:00:00' vs
        # '2025-01-22' vs '...T...Z') — the reference returns datetime
        # STRINGS in the input's format, Spark in its own
        gd, ed = _parse_dtish(got), _parse_dtish(exp)
        if gd is not None and ed is not None:
            return gd == ed
        return False
    if isinstance(got, str) and not isinstance(exp, str) and exp is not None:
        # dynamic-typed reference results (JSON_VALUE, ST_GeomFromText)
        # come back as JSON text from the engine's single-typed UDFs
        import json as _json

        try:
            return _val_eq(_json.loads(got), exp)
        except (ValueError, TypeError):
            return False
    return got == exp


def _row_eq(got: dict, exp: dict) -> bool:
    """Reference rows omit nothing; but tolerate engine NULL vs absent."""
    keys = set(got) | set(exp)
    return all(_val_eq(got.get(k), exp.get(k)) for k in keys)


def rows_equal(
    got: list[dict], exp: list[dict], ordered: bool
) -> bool:
    if len(got) != len(exp):
        return False
    if ordered:
        return all(_row_eq(g, e) for g, e in zip(got, exp))
    # multiset compare via canonical keys; fall back to greedy matching
    # when float tolerance matters
    gk = sorted(_norm_val(r) for r in got)
    ek = sorted(_norm_val(r) for r in exp)
    if gk == ek:
        return True
    remaining = list(exp)
    for g in got:
        for i, e in enumerate(remaining):
            if _row_eq(g, e):
                remaining.pop(i)
                break
        else:
            return False
    return True


def _has_order_by(query: str) -> bool:
    # top-level ORDER BY (not inside a subquery/OVER clause) — a cheap
    # paren-depth scan is enough for the reference's test queries
    depth = 0
    up = query.upper()
    i = 0
    while i < len(up):
        ch = up[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and up.startswith("ORDER BY", i):
            return True
        i += 1
    return False


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------

def run_conformance(
    spark,
    cases: list[Case] | None = None,
    max_cases: int | None = None,
) -> dict:
    """Replay extracted reference test cases through execute_sql.

    Returns {"pass": n, "run_only_ok": n, "fail": [...], "error": [...],
    "expected_errors_ok": n, "total": n}.
    """
    from squirreling_spark.engine import execute_sql

    if cases is None:
        cases = extract_all().cases
    if max_cases:
        cases = cases[:max_cases]
    res = {
        "pass": 0,
        "run_only_ok": 0,
        "expected_errors_ok": 0,
        # subset of expected_errors_ok where the reference asserts the
        # MESSAGE (.toThrow('...')) and the engine's message contains it
        # (modulo a trailing "(row N)" — the engine reports positions, not
        # runtime row indexes)
        "expected_errors_msg_ok": 0,
        "dynamic_skip": 0,
        "fail": [],
        "error": [],
        # message-asserted throws outside execute.errors.test.js whose
        # engine message does not (yet) contain the reference text —
        # classification-level OK, message-level visible here
        "msg_mismatch": [],
        "total": len(cases),
    }
    for c in cases:
        label = f"{c.file}::{c.name}"
        try:
            rows = execute_sql(
                spark, c.query, tables=dict(c.tables), like_mode="ci",
                ident_quotes="ansi", strict=True,
            ).collect()
        except Exception as exc:  # noqa: BLE001 — classification, not flow
            if c.expect_error:
                norm = (
                    re.sub(r"\s*\(row \d+\)\s*$", "", c.expect_msg)
                    if c.expect_msg else None
                )
                if norm and norm in str(exc):
                    res["expected_errors_ok"] += 1
                    res["expected_errors_msg_ok"] += 1
                elif norm and c.file == "execute.errors.test.js":
                    # the errors file is the message-level gate: a throw
                    # with the wrong message is a FAIL, not an OK
                    res["fail"].append((
                        label, c.query,
                        f"error message mismatch: expected {norm!r}, "
                        f"got {str(exc)[:300]!r}",
                    ))
                else:
                    res["expected_errors_ok"] += 1
                    if norm:
                        res["msg_mismatch"].append(
                            (label, norm, str(exc)[:200])
                        )
            elif "mixed dynamic column types" in str(exc):
                # JS rows can mix e.g. int and bool in one column; no
                # Spark column type can represent that fixture
                res["dynamic_skip"] += 1
            else:
                res["error"].append((label, c.query, f"{type(exc).__name__}: {exc}"))
            continue
        finally:
            # views are session-global: drop this case's registrations so
            # a later case with an UNresolvable table spec fails loudly
            # instead of silently reading a stale fixture
            for name in c.tables:
                try:
                    spark.catalog.dropTempView(name)
                except Exception:  # noqa: BLE001
                    pass
        if c.expect_error:
            # reference expected a throw; engine executed — count as fail
            res["fail"].append((label, c.query, "expected error, got rows"))
            continue
        if not c.asserts:
            res["run_only_ok"] += 1
            continue
        bad = check_asserts(rows, c.asserts, _has_order_by(c.query))
        if bad is None:
            res["pass"] += 1
        else:
            res["fail"].append(
                (label, c.query, f"{bad}; got {rows[:3]!r}...")
            )
    return res


def check_asserts(
    rows: list[dict], asserts: list[tuple], ordered: bool
) -> str | None:
    """None when every assertion holds, else a description of the first
    failure. Positional assertions (row/cell/prop) only bind when the
    query is ordered OR the result has a single row — otherwise Spark's
    multiset ordering makes index i meaningless; such asserts degrade to
    an any-row containment check."""
    positional = ordered or len(rows) <= 1

    def row_at(i: int):
        return rows[i] if i < len(rows) else None

    for a in asserts:
        kind = a[0]
        if kind == "rows":
            if not rows_equal(rows, a[1], ordered):
                return f"rows != expected ({len(rows)} vs {len(a[1])})"
        elif kind == "len":
            if len(rows) != a[1]:
                return f"len {len(rows)} != {a[1]}"
        elif kind == "row":
            _, i, exp = a
            if positional:
                r = row_at(i)
                if r is None or not _row_eq(r, exp):
                    return f"row[{i}] mismatch"
            elif not any(_row_eq(r, exp) for r in rows):
                return f"no row matches expected row[{i}]"
        elif kind in ("cell", "cell_null", "cell_nan", "prop"):
            if kind == "cell":
                _, i, col, exp, tol = a
                ok = lambda v: _cell_eq(v, exp, tol)  # noqa: E731
            elif kind == "prop":
                _, i, col, exp = a
                ok = lambda v: _cell_eq(v, exp, 1e-9)  # noqa: E731
            elif kind == "cell_null":
                _, i, col = a
                ok = lambda v: v is None  # noqa: E731
            else:
                _, i, col = a
                ok = lambda v: isinstance(v, float) and math.isnan(v)  # noqa: E731
            if positional:
                r = row_at(i)
                if r is None or not ok(r.get(col)):
                    got = None if r is None else r.get(col)
                    return f"{kind} [{i}].{col}: got {got!r}"
            elif not any(ok(r.get(col)) for r in rows):
                return f"{kind} any-row .{col} unmatched"
    return None


def _cell_eq(got: Any, exp: Any, tol: float) -> bool:
    from decimal import Decimal

    if isinstance(got, Decimal):
        got = float(got)
    if (
        isinstance(got, (int, float))
        and isinstance(exp, (int, float))
        and not isinstance(got, bool)
        and not isinstance(exp, bool)
    ):
        fa, fb = float(got), float(exp)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb or abs(fa - fb) <= max(tol, 1e-9 * max(abs(fa), abs(fb)))
    return _val_eq(got, exp)
