"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parents[1]
REPO = BENCH.parent
sys.path.insert(0, str(REPO))

from perfbench import datagen, run, sqlstream, trace, workloads  # noqa: E402

ISSUE_END_TO_END = [
    "setup_s",
    "wall_s",
    "latency_p50_s",
    "latency_p90_s",
    "error_ratio",
    "peak_rss_mb",
]
ISSUE_PER_LAYER = [
    "engine.register_tables_s",
    "engine.execute_sql_s",
    "engine.collect_s",
    "engine.retry_count",
    "sqldialect.rewrite_s",
    "sqlstrict.validate_s",
    "sqlregistry.register_s",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "udf.evaluated_per_returned",
    "build_s",
    "build_jobs",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "driver.gap_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.python_gap_s",
    "spark.gc_s",
    "tables.load_calls",
    "qutil.spread_calls",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "ckpt.truncate_calls",
    "ckpt.truncate_s",
    "sink.files_written",
    "sink.bytes_written",
    "trace.overhead_s",
]


def _digest(directory: Path) -> dict[str, str]:
    return {
        f.name: hashlib.sha256(f.read_bytes()).hexdigest()
        for f in sorted(directory.iterdir())
    }


def test_same_seed_writes_identical_tables(tmp_path):
    for sub in ("a", "b"):
        datagen.write_tables(datagen.make_tables(7, 0.001), str(tmp_path / sub))
    datagen.write_tables(datagen.make_tables(8, 0.001), str(tmp_path / "c"))
    a, b, c = (_digest(tmp_path / s) for s in "abc")
    assert set(a) == {f"{t}.parquet" for t in datagen.TABLES}
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_tables_match_the_fixture_schema():
    tables = datagen.make_tables(3, 0.001)
    assert tables["lineitem"].num_rows == 4 * tables["orders"].num_rows
    assert tables["orders"].num_rows == 1500
    assert tables["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert tables["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    docs = tables["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_same_seed_issues_identical_sql_stream():
    def stream(seed):
        rng = random.Random(seed)
        mem = sqlstream.memory_tables(rng)
        return mem, [(s.key, s.sql, s.oracle, s.strict) for s in sqlstream.make_stream(rng)]

    assert stream(5) == stream(5)
    assert stream(5) != stream(6)
    _, statements = stream(5)
    per_template = {t.name: 0 for t in sqlstream.TEMPLATES}
    for key, *_ in statements:
        per_template[key.split(":")[1]] += 1
    assert per_template == {t.name: t.repeats for t in sqlstream.TEMPLATES}
    assert any(strict for *_, strict in statements)


def test_every_issue_metric_is_reported():
    assert set(run.END_TO_END) | {"error_ratio"} == set(ISSUE_END_TO_END)
    assert set(ISSUE_PER_LAYER) <= set(trace.PER_LAYER)


def test_benchmark_json_matches_the_reported_metrics():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert spec["command"][1] == "perfbench/run.py"


@pytest.mark.parametrize("a,b,x", [(1, 1, 0.3), (3, 2, 0.4), (10, 3, 0.8), (25, 3, 0.95), (2, 7, 0.1)])
def test_betainc_matches_the_binomial_tail(a, b, x):
    # For whole a, b: I_x(a, b) = P(Binomial(a + b - 1, x) >= a).
    n = a + b - 1
    want = sum(math.comb(n, j) * x**j * (1 - x) ** (n - j) for j in range(a, n + 1))
    assert run.betainc(a, b, x) == pytest.approx(want, rel=1e-12)


def test_harrell_davis_quantile():
    assert run.quantile([2.5] * 7, 0.9) == pytest.approx(2.5)
    assert run.quantile(list(range(1, 28)), 0.5) == pytest.approx(14)
    six = [1, 2, 3, 4, 5, 6]
    assert run.quantile(six, 0.9) + run.quantile(six, 0.1) == pytest.approx(7)
    # With many samples it agrees with the interpolated order statistic.
    values = [random.Random(i).random() for i in range(2000)]
    want = statistics.quantiles(values, n=10, method="inclusive")
    assert run.quantile(values, 0.9) == pytest.approx(want[8], abs=0.01)
    assert run.quantile(values, 0.5) == pytest.approx(statistics.median(values), abs=0.01)


def _write_layout(path: Path, ids: list[int], n: int, reverse: bool = False) -> None:
    for shard in range(n):
        mine = sorted(
            (i for i in ids if workloads.shard_of(i, n) == shard),
            key=workloads._pos_key,
            reverse=reverse,
        )
        if mine:
            d = path / f"shard={shard}"
            d.mkdir(parents=True)
            pq.write_table(pa.table({"doc_id": pa.array(mine, pa.int64())}), d / "part-0.parquet")


def test_shard_check_accepts_the_layout_and_rejects_others(tmp_path):
    ids = list(range(60))
    docs = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), docs)
    _write_layout(tmp_path / "good", ids, 4)
    _write_layout(tmp_path / "order", ids, 4, reverse=True)
    _write_layout(tmp_path / "short", ids[:-1], 4)
    assert workloads.check_shards(str(tmp_path / "good"), str(docs), 4) is None
    assert "order" in workloads.check_shards(str(tmp_path / "order"), str(docs), 4)
    assert "expected" in workloads.check_shards(str(tmp_path / "short"), str(docs), 4)


def test_run_without_engine_source_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(REPO / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_interactive",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
