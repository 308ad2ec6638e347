"""Core relational operators (SURVEY.md §2.1): scan, project, filter, sort,
distinct, limit/offset, top-k, count, scalar & hash aggregation, set ops.

Reference parity targets cited per query (reference = hyparam/squirreling).
All plans are declarative DataFrame ops — Catalyst provides pushdown,
pruning, partial aggregation, and TakeOrderedAndProject; at scale the scans
below read only the referenced columns (check ReadSchema in .explain()).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from squirreling_spark.inventory import query
from squirreling_spark.qutil import davg, dsum, o_davg, o_dsum, spread, t


@query(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice AS price, l_returnflag AS flag
    FROM lineitem
    """,
)
def scan_project(spark, sf):
    """Scan + Project (reference src/execute/execute.js:276-371,538-623).
    Column pruning: the parquet scan reads exactly 4 of 11 columns."""
    return t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("flag"),
    )


@query(
    "filter_where",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND (l_discount < 0.03 OR l_discount > 0.07)
      AND l_linestatus = 'F'
    """,
)
def filter_where(spark, sf):
    """Filter with AND/OR/BETWEEN/IN (reference src/execute/execute.js:440-483).
    The whole conjunction reaches the parquet scan as PushedFilters."""
    li = t(spark, sf, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & ((F.col("l_discount") < 0.03) | (F.col("l_discount") > 0.07))
        & (F.col("l_linestatus") == "F")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@query(
    "filter_like",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_name LIKE '%gold%' OR p_name ILIKE '%STEEL%'
    """,
)
def filter_like(spark, sf):
    """LIKE / ILIKE (reference LIKE is case-insensitive,
    src/expression/binary.js:57-66 — exposed here as explicit ilike)."""
    p = t(spark, sf, "part")
    return p.filter(
        F.col("p_name").like("%gold%") | F.col("p_name").ilike("%STEEL%")
    ).select("p_partkey", "p_name")


@query("single_row", oracle="SELECT 1 AS one, 'x' AS s, 2.5 AS f, NULL AS nul")
def single_row(spark, sf):
    """FROM-less SELECT (reference SingleRow, src/execute/execute.js:133-142)."""
    return spark.range(1).select(
        F.lit(1).cast("int").alias("one"),
        F.lit("x").alias("s"),
        F.lit(2.5).alias("f"),
        F.lit(None).cast("int").alias("nul"),
    )


@query("count_star", oracle="SELECT count(*) AS n FROM lineitem")
def count_star(spark, sf):
    """COUNT(*)-only query (reference answers from source metadata,
    src/execute/execute.js:380-415; Spark answers from parquet row-group
    stats — no data pages are read)."""
    return t(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@query(
    "scalar_agg",
    oracle=f"""
    SELECT count(*) AS n_rows,
           count(l_quantity) AS n_qty,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_davg('l_quantity')} AS avg_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    """,
)
def scalar_agg(spark, sf):
    """ScalarAggregate: one-row aggregate without GROUP BY (reference
    src/execute/aggregates.js:197-263 single-pass columnar fast path; Spark's
    partial+final hash aggregate is the distributed equivalent)."""
    li = t(spark, sf, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        dsum("l_quantity", "sum_qty"),
        davg("l_quantity", "avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "hash_agg_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base_price,
           {o_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {o_davg('l_quantity')} AS avg_qty,
           {o_davg('l_extendedprice')} AS avg_price,
           {o_davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def hash_agg_q1(spark, sf):
    """HashAggregate flagship: TPC-H Q1 pricing summary (reference
    src/execute/streamingAggregate.js:88-206 is the bounded-memory analogue;
    Spark does partial map-side aggregation before the group-key shuffle, so
    state is O(#groups) per task at any scale). ``spread`` parallelizes the
    decimal-heavy partial aggregate when the input is a single row group
    (the local fixtures). It always repartitions, so on a many-file table
    it is one extra round-robin shuffle of every lineitem row."""
    li = spread(t(spark, sf, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "group_having",
    oracle=f"""
    SELECT l_suppkey,
           count(DISTINCT l_orderkey) AS n_orders,
           {o_dsum('l_extendedprice')} AS revenue
    FROM lineitem
    GROUP BY 1
    HAVING count(DISTINCT l_orderkey) > 10
    """,
)
def group_having(spark, sf):
    """GROUP BY positional ref + HAVING + COUNT(DISTINCT) in one slot —
    the full §2.5 'GROUP BY positional / HAVING' row (reference positional
    refs src/parse/parse.js:391-419; HAVING runs against the group context
    row, src/execute/aggregates.js:84-188). Runs through spark.sql with a
    DataFrame parameter binding so the SQL-surface positional resolution
    is what's under test.

    Shuffle shape: Catalyst's distinct-agg cascade exchanges twice — the
    raw rows on (suppkey, orderkey), then the ~as-many pair aggregates on
    suppkey (pairs are near-unique here, so the first partial agg combines
    nothing). Pre-clustering the pruned input on the OUTER group key lets
    hashpartitioning(l_suppkey) satisfy both aggregation levels: one
    exchange total, measured 3.5x at sf1 (8.1s -> 2.3s, SCALING.md).
    Tradeoff: a pathologically hot group key concentrates its rows in one
    partition — with group-key skew prefer the default cascade or salt.
    The inner SELECT lists only the needed columns: Catalyst does not
    prune a parquet scan through a REPARTITION hint node, so `*` would
    read the full width."""
    li = t(spark, sf, "lineitem")
    return spark.sql(
        "SELECT l_suppkey, count(DISTINCT l_orderkey) AS n_orders, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) "
        "AS revenue "
        "FROM (SELECT /*+ REPARTITION(l_suppkey) */ l_suppkey, l_orderkey, "
        "l_extendedprice FROM {lineitem}) GROUP BY 1 "
        "HAVING count(DISTINCT l_orderkey) > 10",
        lineitem=li,
    )


@query(
    "group_positional",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def group_positional(spark, sf):
    """GROUP BY positional refs (reference src/parse/parse.js:391-419) —
    positions resolve to the SELECT list, identical result to named
    grouping. Uses sql() with a DataFrame parameter binding instead of
    mutating the session's view namespace."""
    o = t(spark, sf, "orders")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n "
        "FROM {orders} GROUP BY 1, 2",
        orders=o,
    )


@query(
    "agg_filter_clause",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big,
           {o_dsum('o_totalprice')} AS total,
           CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_filter_clause(spark, sf):
    """FILTER (WHERE ...) on aggregates + COUNTIF (reference
    src/parse/functions.js:129-140, src/expression/evaluate.js:258-265)."""
    o = t(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("n_big"),
        dsum("o_totalprice", "total"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@query(
    "distinct_op",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_op(spark, sf):
    """DISTINCT (reference hash dedup, src/execute/execute.js:632-681; Spark
    plans it as an aggregate with map-side partial dedup)."""
    return t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "sort_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 25
    """,
)
def sort_limit_offset(spark, sf):
    """Sort + LIMIT/OFFSET (reference src/execute/sort.js:38-121,
    src/execute/execute.js:494-513). Unique tiebreak key keeps the selected
    window deterministic under any partitioning."""
    o = t(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(25)
        .limit(50)
    )


@query(
    "topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def topk(spark, sf):
    """Top-K (reference bounded-buffer top-k sort, src/execute/sort.js:130-180;
    Spark compiles orderBy().limit(n) to TakeOrderedAndProject — per-partition
    heaps, no global sort, O(k) driver memory at any scale)."""
    li = t(spark, sf, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(10)
    )


@query(
    "sort_nulls_first",
    oracle="""
    SELECT x, o_orderkey FROM (
      SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS x,
             o_orderkey
      FROM orders
    ) s
    ORDER BY x ASC NULLS FIRST, o_orderkey
    LIMIT 100
    """,
)
def sort_nulls_first(spark, sf):
    """ORDER BY with explicit NULLS FIRST (the reference's default null order,
    src/execute/utils.js:20-23)."""
    o = t(spark, sf, "orders")
    return (
        o.select(
            F.when(F.col("o_orderstatus") == "O", F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("x"),
            "o_orderkey",
        )
        .orderBy(F.col("x").asc_nulls_first(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Set operations (reference src/execute/execute.js:707-872)
# ---------------------------------------------------------------------------


@query(
    "union_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def union_all(spark, sf):
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionAll(s)


@query(
    "union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def union_distinct(spark, sf):
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "intersect_op",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def intersect_op(spark, sf):
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "intersect_all",
    oracle="""
    SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def intersect_all(spark, sf):
    """INTERSECT ALL multiset semantics (reference counts right-side keys,
    src/execute/execute.js:707-872)."""
    li = t(spark, sf, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    return a.intersectAll(r)


@query(
    "except_op",
    oracle="""
    SELECT n_nationkey AS k FROM nation
    EXCEPT
    SELECT c_nationkey AS k FROM customer
    """,
)
def except_op(spark, sf):
    n = t(spark, sf, "nation").select(F.col("n_nationkey").alias("k"))
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    return n.subtract(c)


@query(
    "except_all",
    oracle="""
    SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'F'
    EXCEPT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'O'
    """,
)
def except_all(spark, sf):
    li = t(spark, sf, "lineitem")
    a = li.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_linestatus") == "O").select(F.col("l_suppkey").alias("k"))
    return a.exceptAll(b)
