"""Skew operators + write-path tests: salted results must equal unsalted
results exactly; bucketed joins must drop the exchange from the plan."""

from pyspark.sql import functions as F

from squirreling_spark.operators.skew import salted_agg, salted_join
from squirreling_spark.sources.sinks import write_bucketed, write_partitioned


def _skewed_df(spark):
    # key 0 holds 90% of rows — the classic hot key
    rows = [(0, float(i % 7)) for i in range(9000)] + [
        (k, float(k)) for k in range(1, 1001)
    ]
    return spark.createDataFrame(rows, ["k", "v"])


def test_salted_agg_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    salted = {
        r["k"]: (r["s"], r["c"])
        for r in salted_agg(
            df,
            ["k"],
            aggs=[F.sum("v").alias("ps"), F.count("*").alias("pc")],
            final_aggs=[F.sum("ps").alias("s"), F.sum("pc").alias("c")],
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    fact = _skewed_df(spark)
    dim = spark.createDataFrame(
        [(k, f"name{k}") for k in range(0, 1001)], ["k", "name"]
    )
    plain = sorted(
        map(tuple, fact.join(dim, ["k"]).select("k", "v", "name").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_join(fact, dim, ["k"]).select("k", "v", "name").collect(),
        )
    )
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 1.0), (99, 2.0)], ["k", "v"])
    dim = spark.createDataFrame([(1, "one")], ["k", "name"])
    rows = {
        r["k"]: r["name"]
        for r in salted_join(fact, dim, ["k"], how="left").collect()
    }
    assert rows == {1: "one", 99: None}


def test_write_partitioned_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(d, i) for d in ("a", "b", "c") for i in range(10)], ["part", "x"]
    )
    path = str(tmp_path / "partitioned")
    write_partitioned(df, path, ["part"])
    back = spark.read.parquet(path).filter(F.col("part") == "b")
    assert back.count() == 10
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan


def test_bucketed_join_avoids_exchange(spark, tmp_path):
    # bucketed tables are catalog-managed; they land in the session's
    # warehouse dir (a per-run temp dir, see the conftest spark fixture)
    # and are dropped below
    a = spark.createDataFrame([(i, i * 2) for i in range(1000)], ["k", "x"])
    b = spark.createDataFrame([(i, i * 3) for i in range(1000)], ["k", "y"])
    write_bucketed(a, "bk_a", "k", num_buckets=8)
    write_bucketed(b, "bk_b", "k", num_buckets=8)
    joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
    assert joined.count() == 1000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located bucketed join: no shuffle exchange on either side
    assert "Exchange hashpartitioning" not in plan
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
