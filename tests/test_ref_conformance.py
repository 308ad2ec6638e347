"""Reference-test conformance: replay the reference's OWN test queries
through execute_sql and hold the pass floors.

The extractor (squirreling_spark/conformance.py) pulls 1,100+ query cases
with fixtures and expected outputs straight from
/root/reference/test/execute/*.test.js; this test runs a representative
subset per file and pins per-file floors so dialect regressions surface
immediately. The full sweep is scripts/ref_conformance.py →
CONFORMANCE.json.
"""
import collections
import os

import pytest

from squirreling_spark.conformance import REF_TEST_DIR, extract_all, run_conformance

if not os.path.isdir(REF_TEST_DIR):
    pytest.skip(
        f"reference test files not found at {REF_TEST_DIR}: the floors can"
        " only be re-checked where the reference checkout exists;"
        " CONFORMANCE.json records the last full sweep",
        allow_module_level=True,
    )

# per-file floor: (min_ok, min_value_checked) as of round 8 (dynamic
# mixed-type memory columns via the JSON-text convention: CONFORMANCE
# totals 1136/1136 ok — ALL cases — 887 value-verified, 0 fail, 0 error,
# 0 dynamic skips). ok = pass + run_only + expected_errors. Floors sit
# one ok / two checked below current so environmental flake doesn't trip
# them; real regressions (a rewrite breaking a family) drop counts by
# tens.
FLOORS = {
    "execute.aggregate.test.js": (80, 67),   # r8: dynamic SUM/AVG skip
    "execute.arrays.test.js": (72, 66),
    "execute.between.test.js": (17, 16),
    "execute.cast.test.js": (7, 3),          # r8: dynamic CAST decode
    "execute.cte.test.js": (27, 23),
    "execute.datetime.test.js": (54, 39),
    "execute.dot.test.js": (26, 11),
    "execute.errors.test.js": (27, 0),
    "execute.group.test.js": (11, 8),
    "execute.having.test.js": (27, 24),
    "execute.interval.test.js": (14, 11),
    "execute.join.test.js": (58, 45),
    "execute.json.test.js": (92, 71),
    "execute.math.test.js": (55, 41),
    "execute.orderby.test.js": (38, 30),     # r8: dynamic sort coercion
    "execute.regex.test.js": (37, 27),
    "execute.spatial.test.js": (14, 2),
    "execute.strings.test.js": (150, 132),   # r8: dynamic NULLIF
    "execute.subquery.test.js": (58, 52),  # r7: correlated-UNNEST fixed
    "execute.test.js": (55, 46),             # r8: dynamic truthy WHERE
    "execute.trig.test.js": (35, 18),
    "execute.union.test.js": (21, 13),
    "execute.unnest.test.js": (66, 43),
    "execute.where.test.js": (37, 28),       # r8: dynamic '= NULL'
    "execute.window.test.js": (22, 13),
    "positional.test.js": (11, 9),
}


@pytest.fixture(scope="module")
def conf_spark(spark):
    # Isolated session: shares the JVM/SparkContext but gets its own temp
    # views, function registry, and confs. The dialect's best-effort
    # dtype resolution (_ref_dtype) scans ALL temp views for bare column
    # names, so any earlier test module that leaks a view with a
    # same-named column would silently change subscript/size rewrites —
    # newSession() makes that impossible regardless of suite order.
    s = spark.newSession()
    # the reference implements JS arithmetic (div-by-zero → NULL)
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.conf.set("spark.sql.legacy.sizeOfNull", "false")
    yield s


@pytest.fixture(scope="module")
def cases_by_file():
    byfile = collections.defaultdict(list)
    for c in extract_all().cases:
        byfile[c.file].append(c)
    return byfile


def test_extraction_volume(cases_by_file):
    """The extractor must keep finding the reference's cases — a silent
    extraction regression would make the floors vacuous."""
    total = sum(len(v) for v in cases_by_file.values())
    assert total >= 1100, total
    with_asserts = sum(
        1 for v in cases_by_file.values() for c in v if c.asserts
    )
    assert with_asserts >= 850, with_asserts


@pytest.mark.parametrize("fname", sorted(FLOORS))
def test_reference_file_conformance(conf_spark, cases_by_file, fname):
    min_ok, min_checked = FLOORS[fname]
    res = run_conformance(conf_spark, cases_by_file[fname])
    ok = res["pass"] + res["run_only_ok"] + res["expected_errors_ok"]
    detail = "; ".join(
        f"{label}: {why[:120]}" for label, _, why in (res["fail"] + res["error"])[:5]
    )
    assert ok >= min_ok, f"{fname}: ok {ok} < floor {min_ok} — {detail}"
    assert res["pass"] >= min_checked, (
        f"{fname}: checked {res['pass']} < floor {min_checked} — {detail}"
    )
    # round-9 message-level gate: every .toThrow('...') assertion in the
    # reference must be matched by engine message CONTENT (modulo a
    # trailing "(row N)"), not just by the fact of a throw
    n_msg = sum(1 for c in cases_by_file[fname]
                if c.expect_error and c.expect_msg)
    mm = "; ".join(f"{t[0]}: wanted {t[1][:80]!r}"
                   for t in res["msg_mismatch"][:5])
    assert res["expected_errors_msg_ok"] >= n_msg - len(
        res["fail"]
    ) - len(res["error"]), f"{fname}: message mismatches — {mm}"
    assert not res["msg_mismatch"], f"{fname}: {mm}"
