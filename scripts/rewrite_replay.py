"""Rewrite-equivalence replay for the SQL front end.

Records the arguments of every ``rewrite_reference_sql`` call and of
every ``inline_select_aliases`` call (the one GROUP BY retry rewrite)
in ``squirreling_spark/functions/sqldialect.py`` to a JSONL file, replays
the recorded calls at a checkout, and lists the calls whose outputs
differ between two replays. A call made with a SparkSession is recorded
with the column-resolution snapshot it sees (each view's schema), so the
replay resolves column references as the recorded run did. The quoting
of flat dotted column names (``a.b`` naming a column "a.b") is part of
``rewrite_reference_sql``'s output, so a replay covers it too.

Record, as a pytest plugin or around any Python script::

    PYTHONPATH=scripts python -m pytest -p rewrite_replay \\
        --replay-record rec.jsonl tests/test_dialect_sql.py
    python scripts/rewrite_replay.py record rec.jsonl scripts/driver_sim.py
    python scripts/rewrite_replay.py record rec.jsonl perfbench/run.py \\
        --workload sql_interactive --seed 21 --seconds 10

Replay at this checkout, or at another one with ``--root``, then diff::

    python scripts/rewrite_replay.py replay rec.jsonl new.jsonl
    python scripts/rewrite_replay.py replay rec.jsonl old.jsonl --root ../old
    python scripts/rewrite_replay.py diff old.jsonl new.jsonl

A replay writes one line per recorded call: its output text, or the
exception it raised. The names the rewrites draw at random per call
(``__sq_posv_1a2b3c4d``, ``__sq_lv_...``) are written with ``*`` for
their suffix. ``diff`` exits 1 when any output differs.
"""

from __future__ import annotations

import argparse
import functools
import inspect
import json
import re
import runpy
import sys
import threading
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
FUNCTIONS = ("rewrite_reference_sql", "inline_select_aliases")
_RANDOM_NAME_RE = re.compile(r"(__sq_[a-z]+_)[0-9a-f]{8}\b")


# ---------------------------------------------------------------------------
# record
# ---------------------------------------------------------------------------

def install_recorder(path: str) -> None:
    """Wrap the recorded functions of ``sqldialect`` so that every call
    appends its arguments to ``path`` (each distinct call once). Modules
    that import the functions after this see the wrappers."""
    from squirreling_spark.functions import sqldialect

    lock, seen = threading.Lock(), set()
    out = open(path, "a", encoding="utf-8")  # noqa: SIM115 — lives as long as the process

    def wrap(name, fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def recorded(*args, **kwargs):
            call = dict(sig.bind(*args, **kwargs).arguments)
            spark = call.pop("spark", None)
            try:
                views = spark and {
                    n: s.json()
                    for n, s in sqldialect._resolution_views(spark).items()
                }
                line = json.dumps(
                    {"fn": name, "args": call, "spark": spark is not None,
                     "views": views},
                    sort_keys=True,
                )
            except Exception:  # noqa: BLE001 — a stand-in session: not replayable
                line = None
            with lock:
                if line is not None and line not in seen:
                    seen.add(line)
                    out.write(line + "\n")
                    out.flush()
            return fn(*args, **kwargs)

        return recorded

    for name in FUNCTIONS:
        setattr(sqldialect, name, wrap(name, getattr(sqldialect, name)))


def pytest_addoption(parser):
    parser.addoption(
        "--replay-record", metavar="PATH",
        help="append the arguments of every recorded sqldialect call to PATH",
    )


def pytest_configure(config):
    path = config.getoption("--replay-record")
    if path:
        install_recorder(path)


def record(path: str, script: str, argv: list[str]) -> None:
    sys.path.insert(0, str(REPO))
    install_recorder(path)
    sys.argv = [script, *argv]
    runpy.run_path(script, run_name="__main__")


# ---------------------------------------------------------------------------
# replay
# ---------------------------------------------------------------------------

def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[1]").appName("rewrite-replay")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )


def replay(rec_path: str, out_path: str, root: str | None) -> None:
    sys.path.insert(0, str(Path(root).resolve() if root else REPO))
    from pyspark.sql import types as T

    from squirreling_spark.functions import sqldialect

    calls = [json.loads(line) for line in open(rec_path, encoding="utf-8")]
    spark = _session() if any(c["spark"] for c in calls) else None
    registered: dict[str, str] = {}  # view name → schema json
    with open(out_path, "w", encoding="utf-8") as out:
        for i, c in enumerate(calls):
            args, views = dict(c["args"]), None
            if c["spark"]:
                views = {
                    n: T.StructType.fromJson(json.loads(s))
                    for n, s in c["views"].items()
                }
                _sync_views(spark, registered, c["views"], views)
                args["spark"] = spark
            try:
                with sqldialect.ref_resolution_cache(views):
                    result = getattr(sqldialect, c["fn"])(**args)
                if isinstance(result, str):
                    if spark is not None:
                        sqldialect.drop_scratch_views(spark, result)
                    result = _RANDOM_NAME_RE.sub(r"\1*", result)
            except Exception as exc:  # noqa: BLE001 — an error is an output
                result = {"error": f"{type(exc).__name__}: {exc}"[:500]}
            out.write(json.dumps({"i": i, "fn": c["fn"], "out": result}) + "\n")
    print(f"replayed {len(calls)} calls into {out_path}")


def _sync_views(spark, registered: dict, raw: dict, views: dict) -> None:
    """Make the session's temp views the recorded snapshot: empty views
    with the recorded schemas (POSITIONAL JOIN reads them through
    ``spark.table``)."""
    for name in set(registered) - set(raw):
        spark.catalog.dropTempView(name)
        del registered[name]
    for name, schema in views.items():
        if registered.get(name) != raw[name]:
            plain = re.fullmatch(r"[A-Za-z_]\w*", name)
            try:
                spark.createDataFrame([], schema).createOrReplaceTempView(
                    name if plain else "`" + name.replace("`", "``") + "`"
                )
            except Exception:  # noqa: BLE001 — resolution needs no view
                continue
            registered[name] = raw[name]


# ---------------------------------------------------------------------------
# diff
# ---------------------------------------------------------------------------

def diff(rec_path: str | None, old_path: str, new_path: str) -> int:
    old = [json.loads(line) for line in open(old_path, encoding="utf-8")]
    new = [json.loads(line) for line in open(new_path, encoding="utf-8")]
    if len(old) != len(new):
        sys.exit(f"replays differ in length: {len(old)} vs {len(new)}")
    calls = (
        [json.loads(line) for line in open(rec_path, encoding="utf-8")]
        if rec_path else None
    )
    differ = [(a, b) for a, b in zip(old, new) if a["out"] != b["out"]]
    for a, b in differ:
        print(f"--- call {a['i']} ({a['fn']})")
        if calls:
            print(f"  in:  {calls[a['i']]['args']}")
        print(f"  old: {a['out']}")
        print(f"  new: {b['out']}")
    print(f"{len(differ)} of {len(old)} calls differ")
    return 1 if differ else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("record", help="run a Python script, recording calls")
    r.add_argument("path")
    r.add_argument("script")
    r.add_argument("argv", nargs=argparse.REMAINDER)
    rp = sub.add_parser("replay", help="replay recorded calls at a checkout")
    rp.add_argument("recording")
    rp.add_argument("out")
    rp.add_argument("--root", help="checkout to import squirreling_spark from")
    d = sub.add_parser("diff", help="list the calls whose outputs differ")
    d.add_argument("old")
    d.add_argument("new")
    d.add_argument("--recording", help="show each differing call's input")
    a = p.parse_args(argv)
    if a.mode == "record":
        record(a.path, a.script, a.argv)
    elif a.mode == "replay":
        replay(a.recording, a.out, a.root)
    else:
        return diff(a.recording, a.old, a.new)
    return 0


if __name__ == "__main__":
    sys.exit(main())
