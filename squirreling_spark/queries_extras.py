"""Coverage extras: recursive CTEs (the reference's #1 rejected feature,
src/parse/parse.js:51-57 — native in Spark 4), the JSON function pack
(reference src/expression/evaluate.js:476-685), and regexp occurrence
semantics (reference src/expression/regexp.js:17-170).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from squirreling_spark.inventory import query
from squirreling_spark.qutil import register_views, t


@query(
    "cte_recursive",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT CAST(date_trunc('month', TIMESTAMP '1995-01-01 00:00:00') AS TIMESTAMP)
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '1995-12-01 00:00:00'
    )
    SELECT m.m AS month_start, count(o.o_orderkey) AS n_orders
    FROM months m
    LEFT JOIN orders o
      ON CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) = m.m
    GROUP BY m.m
    """,
)
def cte_recursive(spark, sf):
    """WITH RECURSIVE month series + left join of order counts — the
    reference rejects recursion outright; Spark 4 runs it natively."""
    register_views(spark, sf, ("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT CAST('1995-01-01 00:00:00' AS TIMESTAMP_NTZ)
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < CAST('1995-12-01 00:00:00' AS TIMESTAMP_NTZ)
        )
        SELECT m.m AS month_start, count(o.o_orderkey) AS n_orders
        FROM months m
        LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = m.m
        GROUP BY m.m
        """
    )


@query(
    "json_pack",
    oracle="""
    SELECT event_id,
           array_to_string(regexp_extract_all(props, '"([a-z]+)":', 1), ',') AS keys,
           concat('{"k":', regexp_extract(props, '"k": ([0-9]+)', 1),
                  ',"evt":"', event_type, '"}') AS rebuilt,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 3 + 1
             AS arr_len,
           regexp_matches(props, '^\\{.*\\}$') AS valid_obj
    FROM events
    """,
)
def json_pack(spark, sf):
    """JSON_OBJECT / JSON_KEYS / JSON_ARRAY_LENGTH / JSON_VALID (reference
    evaluate.js:476-685). Spark side runs the real JSON engine; oracle
    mirrors values through string ops (DuckDB json extension not assumed).
    `keys` is serialized (driver canonicalizer rejects array columns);
    `arr_len` measures a data-dependent JSON array (length = k%3+1) so
    json_array_length is actually exercised, not a constant."""
    ev = t(spark, sf, "events")
    k_val = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select(
        "event_id",
        F.array_join(F.json_object_keys("props"), ",").alias("keys"),
        F.to_json(
            F.named_struct(
                F.lit("k"), k_val, F.lit("evt"), F.col("event_type")
            )
        ).alias("rebuilt"),
        F.json_array_length(
            F.concat(
                F.lit("["),
                F.array_join(F.array_repeat(F.lit("1"), (k_val % 3 + 1).cast("int")), ","),
                F.lit("]"),
            )
        ).cast("bigint").alias("arr_len"),
        F.get_json_object("props", "$").isNotNull().alias("valid_obj"),
    )


@query(
    "alias_chaining",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 0.9 AS discounted,
           discounted * 0.07 AS tax,
           discounted + tax AS final_price
    FROM orders
    """,
)
def alias_chaining(spark, sf):
    """Lateral column aliases: later SELECT items referencing earlier
    aliases (reference src/plan/plan.js:174-189; Spark ≥3.4 resolves
    implicitly)."""
    register_views(spark, sf, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey,
               o_totalprice * 0.9 AS discounted,
               discounted * 0.07 AS tax,
               discounted + tax AS final_price
        FROM orders
        """
    )


@query(
    "null_semantics",
    oracle="""
    WITH v AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS x
      FROM orders
    )
    SELECT
      count(*) AS n_rows,
      count(x) AS n_non_null,
      count(*) - count(x) AS n_null,
      CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sum_skips_null,
      CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS is_null_count,
      CAST(sum(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_count,
      CAST(sum(CASE WHEN x + 1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS arith_propagates,
      CAST(sum(CASE WHEN (x > 0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cmp_is_3vl,
      CAST(sum(CASE WHEN coalesce(x, -1) = -1 THEN 1 ELSE 0 END) AS BIGINT) AS coalesced
    FROM v
    """,
)
def null_semantics(spark, sf):
    """NULL handling matrix: IS [NOT] NULL, null propagation through
    arithmetic, three-valued comparison logic, aggregate null-skipping
    (reference deviates on comparisons — x = NULL → false,
    src/expression/binary.js:33-35; the engine follows standard SQL,
    which the oracle checks)."""
    o = t(spark, sf, "orders")
    x = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    v = o.select("o_orderkey", x.alias("x"))
    return v.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("x").alias("n_non_null"),
        (F.count(F.lit(1)) - F.count("x")).alias("n_null"),
        F.sum(F.col("x").cast("decimal(27,6)")).cast("double").alias("sum_skips_null"),
        F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)).alias("is_null_count"),
        F.sum(F.when(F.col("x").isNotNull(), 1).otherwise(0)).alias("not_null_count"),
        F.sum(F.when((F.col("x") + 1).isNull(), 1).otherwise(0)).alias(
            "arith_propagates"
        ),
        F.sum(F.when((F.col("x") > 0).isNull(), 1).otherwise(0)).alias("cmp_is_3vl"),
        F.sum(
            F.when(F.coalesce(F.col("x"), F.lit(-1)) == -1, 1).otherwise(0)
        ).alias("coalesced"),
    )


@query("current_datetime")  # rows-only: evaluation instants differ per engine
def current_datetime(spark, sf):
    """Niladic CURRENT_DATE / CURRENT_TIMESTAMP (reference
    src/parse/functions.js:25-35 — no parens needed). Values depend on the
    evaluation instant, so the driver records a rows-only check; the test
    asserts internal consistency instead."""
    return spark.sql(
        """
        SELECT current_date() AS today,
               current_timestamp() AS now,
               year(current_date()) AS this_year,
               current_date() = to_date(current_timestamp()) AS consistent
        """
    )


@query(
    "approx_sketches",
    # The sketch VALUES differ per engine (different HLL/quantile
    # implementations), but the sketch GUARANTEES don't: the oracle pins
    # exact ground truth + literal-TRUE bound flags, so the row goes
    # hash-green iff every estimate sits inside its pinned error bound
    # (3*rsd for HLL; +-1% rank for approx_percentile at accuracy 10000).
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.49) AS p49,
             quantile_cont(l_quantity, 0.51) AS p51
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
           TRUE AS hll_orders_ok,
           TRUE AS hll_parts_ok,
           TRUE AS p50_ok
    FROM lineitem l JOIN q ON q.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def approx_sketches(spark, sf):
    """Approximate sketches — HLL distinct counts and quantile sketches.
    At 100 TB these replace exact COUNT(DISTINCT)/percentile where a
    shuffle-free single pass matters. Graded on the sketch CONTRACT:
    each estimate must land within its error bound of the exact value
    computed in the same row (was rows-only through round 4 — the last
    oracle-able gap)."""
    li = t(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("a_ord"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("a_part"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("a_p50"),
        F.expr("percentile_cont(0.49) WITHIN GROUP (ORDER BY l_quantity)")
        .alias("p49"),
        F.expr("percentile_cont(0.51) WITHIN GROUP (ORDER BY l_quantity)")
        .alias("p51"),
    )
    return agg.select(
        "l_returnflag",
        "n_orders",
        "n_parts",
        # default rsd = 0.05; 3 sigma bound
        (F.abs(F.col("a_ord") - F.col("n_orders"))
         <= 0.15 * F.col("n_orders")).alias("hll_orders_ok"),
        (F.abs(F.col("a_part") - F.col("n_parts"))
         <= 0.03 * F.col("n_parts")).alias("hll_parts_ok"),
        # accuracy=10000 bounds rank error to ~N/10000: the estimate must
        # sit between the exact 49th and 51st percentiles
        ((F.col("a_p50") >= F.col("p49"))
         & (F.col("a_p50") <= F.col("p51"))).alias("p50_ok"),
    )


@query(
    "regex_occurrence",
    oracle="""
    SELECT p_partkey,
           regexp_extract_all(p_name, '([a-z]+)', 1)[2] AS second_match,
           regexp_extract_all(p_name, '([a-z]+)', 1)[-1] AS last_match,
           len(regexp_extract_all(p_name, '([a-z]+)', 1)) AS n_matches
    FROM part
    """,
)
def regex_occurrence(spark, sf):
    """REGEXP_SUBSTR occurrence semantics (reference regexp.js:17-170 —
    position+occurrence args) via regexp_extract_all + element_at."""
    p = t(spark, sf, "part")
    all_m = F.regexp_extract_all("p_name", F.lit("([a-z]+)"), 1)
    return p.select(
        "p_partkey",
        F.element_at(all_m, 2).alias("second_match"),
        F.element_at(all_m, -1).alias("last_match"),
        F.size(all_m).alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# Table profiling (pipeline/profile.py): per-column stats in one pass.
# The oracle is generated per column so both sides share the same portable
# min/max string formatting (double -> decimal(27,6), timestamp -> micros).
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]


def _o_fmt(expr: str, typ: str) -> str:
    if typ == "double":
        return f"CAST(CAST({expr} AS DECIMAL(27,6)) AS VARCHAR)"
    if typ == "timestamp":
        return f"strftime({expr}, '%Y-%m-%d %H:%M:%S.%f')"
    return f"CAST({expr} AS VARCHAR)"


def _o_profile_col(c: str, typ: str) -> str:
    return f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(*) - count({c}) AS DOUBLE) / count(*) AS null_frac,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {_o_fmt(f'min({c})', typ)} AS min_str,
           {_o_fmt(f'max({c})', typ)} AS max_str
    FROM orders"""


@query(
    "table_profile_orders",
    oracle="\nUNION ALL\n".join(
        _o_profile_col(c, typ) for c, typ in _PROFILE_COLS
    ),
)
def table_profile_orders(spark, sf):
    """Per-column profile of orders — null rate, exact distinct count,
    portable min/max strings — in ONE aggregate pass
    (pipeline/profile.py::table_profile). The ANALYZE step a pipeline
    runs between transformations; exact=False swaps in
    approx_count_distinct for wide tables at scale."""
    from squirreling_spark.pipeline.profile import table_profile

    return table_profile(t(spark, sf, "orders"))
