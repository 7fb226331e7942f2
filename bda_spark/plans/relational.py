"""Relational operator queries (SURVEY.md §2.2-§2.4, §2.6-§2.8) over the
TPC-H-ish testdata tables, each with a DuckDB oracle.

These re-express the reference's batch query surface — projections,
filters, dedup, joins, daily gold aggregates, profile stats, null-count
vectors, top-k, set ops — on the driver's tables. Reference citations on
each query point at the operator being reproduced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.spread import AGG_BYTES_PER_TASK, spread_scan
from .registry import query, r6, t, xsum


# ---------------------------------------------------------------- flagship
@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(CAST(round((l_quantity) * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_qty,
           round(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_base_price,
           round(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_disc_price,
           round(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1-shaped pricing summary — the gold-layer daily
    aggregate pattern (ref load_to_gold_layer.py:54-64) generalized.
    Filter pushes to the parquet scan; partial aggregation map-side.

    The exact-decimal xsum buffer (DECIMAL(38,0), see registry.xsum)
    costs ~0.15 s/MB per core, so an underparallelized scan is spread
    first (functions.spread, cost-gated): only the six aggregated
    columns cross the exchange, and the partial aggregation above it
    collapses each task to a handful of rows. Decimal addition is
    exact, so the xsum columns are identical under any row placement;
    the avg columns sum doubles, whose last bits depend on placement,
    and rely on the round(·, 6) output policy as they did before the
    spread."""
    li = t(spark, sf_dir, "lineitem")
    return (
        spread_scan(
            li.filter(
                F.col("l_shipdate") <= F.lit("2024-09-01 00:00:00").cast("timestamp")
            ).select(
                "l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_tax",
            ),
            AGG_BYTES_PER_TASK,
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            xsum(F.col("l_quantity")).alias("sum_qty"),
            xsum(F.col("l_extendedprice")).alias("sum_base_price"),
            xsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            xsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            r6(F.avg("l_quantity")).alias("avg_qty"),
            r6(F.avg("l_extendedprice")).alias("avg_price"),
            r6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ------------------------------------------------------------- gold daily
@query(
    "gold_daily_orders",
    """
    SELECT o_orderpriority AS symbol,
           CAST(o_orderdate AS DATE) AS aggregation_date,
           count(*) AS total_orders,
           round(avg(o_totalprice), 6) AS avg_price,
           round(max(o_totalprice), 6) AS max_price,
           round(min(o_totalprice), 6) AS min_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def gold_daily_orders(spark, sf_dir):
    """Daily gold aggregate keyed (symbol, aggregation_date)
    (ref load_to_gold_layer.py:40-64: count + avg/max/min stats)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.col("o_orderpriority").alias("symbol"),
            F.to_date("o_orderdate").alias("aggregation_date"),
        )
        .agg(
            F.count("*").alias("total_orders"),
            r6(F.avg("o_totalprice")).alias("avg_price"),
            r6(F.max("o_totalprice")).alias("max_price"),
            r6(F.min("o_totalprice")).alias("min_price"),
        )
    )


# ------------------------------------------------------------------ joins
@query(
    "top_customers",
    """
    SELECT c_name, round(sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) / 1000000.0, 6) AS revenue, count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_name
    ORDER BY revenue DESC, c_name
    LIMIT 10
    """,
)
def top_customers(spark, sf_dir):
    """Batch equi-join + grouped agg + top-k (ref J2
    stream_and_historical_model.py:599-603 + O3 top-k pattern).

    No broadcast hint on customer: it scales with SF (sf100 ~ 15M rows),
    so AQE's size-based decision picks broadcast vs shuffle at runtime."""
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name")
        .agg(xsum(F.col("o_totalprice")).alias("revenue"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("revenue"), "c_name")
        .limit(10)
    )


@query(
    "regional_order_stats",
    """
    SELECT r_name, o_orderstatus,
           count(*) AS n_orders,
           round(sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) / 1000000.0, 6) AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, o_orderstatus
    """,
)
def regional_order_stats(spark, sf_dir):
    """3-way star join. nation/region are fixed-size (25/5 rows) so they
    carry broadcast hints; customer scales with SF, so its join strategy
    is left to AQE's runtime size check — the 100 TB-safe shape."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            xsum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


@query(
    "orders_without_lineitems",
    """
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def orders_without_lineitems(spark, sf_dir):
    """Anti-join (absent from the reference — SURVEY §2.3 notes Spark
    gives it for free; here as left_anti). Oracle uses NOT EXISTS, which
    is exactly anti-join semantics even on null-bearing keys (NOT IN
    would yield zero rows if any l_orderkey were NULL)."""
    o, li = t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "suppliers_with_orders",
    """
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
    """,
)
def suppliers_with_orders(spark, sf_dir):
    """Semi-join (left_semi) with a pushed-down range filter."""
    s, li = t(spark, sf_dir, "supplier"), t(spark, sf_dir, "lineitem")
    return (
        s.join(
            li.filter(F.col("l_quantity") > 45),
            s.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        ).select("s_name", "s_acctbal")
    )


@query(
    "customer_order_coalesce",
    """
    SELECT c_custkey,
           coalesce(round(sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) / 1000000.0, 6), 0.0) AS revenue,
           count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    WHERE c_custkey <= 200
    GROUP BY c_custkey
    """,
)
def customer_order_coalesce(spark, sf_dir):
    """Outer join + coalesce first-non-null (ref J3 pandas outer merge,
    stream_eda.ipynb cells 27-28)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(xsum(F.col("o_totalprice")), F.lit(0.0)).alias("revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


# ----------------------------------------------------------- profile/stat
@query(
    "profile_stats_orders",
    """
    SELECT o_orderstatus,
           round(min(o_totalprice), 2) AS min_o_totalprice,
           round(max(o_totalprice), 2) AS max_o_totalprice,
           round(avg(o_totalprice), 2) AS mean_o_totalprice,
           round(stddev_samp(o_totalprice), 2) AS std_o_totalprice
    FROM orders GROUP BY o_orderstatus
    """,
)
def profile_stats_orders(spark, sf_dir):
    """Multi-stat profile aggregate (ref EDA_silver.ipynb cell 18)."""
    from ..functions.stats import profile_stats

    o = t(spark, sf_dir, "orders")
    return profile_stats(o, ["o_orderstatus"], ["o_totalprice"], ndigits=2)


@query(
    "null_count_vector",
    """
    SELECT count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_o_custkey,
           count(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) THEN 1 END) AS n_o_totalprice,
           count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS n_o_orderdate
    FROM orders
    """,
)
def null_count_vector_q(spark, sf_dir):
    """Single-pass null/NaN-count vector (ref EDA_silver.ipynb cell 8;
    replaces the per-column loop stream_and_historical_model.py:316-319)."""
    from ..functions.stats import null_count_vector

    o = t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice", "o_orderdate"]
    return null_count_vector(o, cols).select(
        *[F.col(c).alias(f"n_{c}") for c in cols]
    )


@query(
    "grand_totals",
    """
    SELECT min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
           round(avg(l_extendedprice), 6) AS avg_price, count(*) AS n
    FROM lineitem
    """,
)
def grand_totals(spark, sf_dir):
    """Global (grand) aggregate, no grouping (ref joined_streams.py:113-123)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        r6(F.avg("l_extendedprice")).alias("avg_price"),
        F.count("*").alias("n"),
    )


@query(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark, sf_dir):
    """distinct() (ref EDA_silver.ipynb cell 19)."""
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "count_distinct_custkeys",
    """
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def count_distinct_custkeys(spark, sf_dir):
    """countDistinct KPI (ref app_2 NEW with joined.py:150 nunique)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


# -------------------------------------------------------------- set ops
@query(
    "union_account_balances",
    """
    SELECT kind, count(*) AS n, round(sum(CAST(round((acctbal) * 1000000) AS BIGINT)) / 1000000.0, 6) AS total
    FROM (
      SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
      UNION ALL
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
    ) GROUP BY kind
    """,
)
def union_account_balances(spark, sf_dir):
    """unionByName of same-schema frames (ref load_to_silver_layer.py:120)."""
    s = t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal")
    )
    c = t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal")
    )
    return (
        s.unionByName(c)
        .groupBy("kind")
        .agg(F.count("*").alias("n"), xsum(F.col("acctbal")).alias("total"))
    )


@query(
    "dedup_by_key",
    """
    SELECT o_custkey, count(*) AS n
    FROM (
      SELECT o_custkey FROM (
        SELECT o_custkey, row_number() OVER (
            PARTITION BY o_custkey, o_orderstatus ORDER BY o_orderkey) AS rn
        FROM orders
      ) WHERE rn = 1
    ) GROUP BY o_custkey HAVING count(*) > 1
    """,
)
def dedup_by_key(spark, sf_dir):
    """Key-subset dedup (ref dropDuplicates load_to_silver_layer.py:45,121).
    dropDuplicates keeps an arbitrary row; to stay oracle-deterministic we
    implement 'keep first by o_orderkey' with a rank window — the same
    physical shape (hash shuffle on the key)."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


@query(
    "conditional_repair",
    """
    SELECT o_orderstatus,
           round(avg(CASE WHEN o_totalprice < 1000 THEN o_totalprice * 10
                          ELSE o_totalprice END), 6) AS avg_repaired
    FROM orders GROUP BY o_orderstatus
    """,
)
def conditional_repair(spark, sf_dir):
    """when/otherwise sentinel-repair expression (ref P8
    NEW_train_offset_3_10min_ETH.py:113-127)."""
    o = t(spark, sf_dir, "orders")
    repaired = F.when(
        F.col("o_totalprice") < 1000, F.col("o_totalprice") * 10
    ).otherwise(F.col("o_totalprice"))
    return o.groupBy("o_orderstatus").agg(r6(F.avg(repaired)).alias("avg_repaired"))


@query(
    "orders_recent_window",
    """
    SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) / 1000000.0, 6) AS total
    FROM orders
    WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 300 DAY
                          FROM orders)
    GROUP BY o_orderpriority
    """,
)
def orders_recent_window(spark, sf_dir):
    """P6/F5: relative-date recency filter — "orders in the last 300
    days" (ref EDA_silver.ipynb cell 11 'last 14 days'). The cutoff is
    anchored to max(o_orderdate), the watermark of the data itself, not
    wall-clock current_date: the r2 form compared Spark's UTC-pinned
    current_date() against DuckDB's host-local one, which differ for
    hours a day on non-UTC hosts. Anchoring makes the query a pure
    function of its input — deterministic on any host, any time.

    Plan shape: the anchor is a 1-row aggregate broadcast into the
    filter (same two-pass shape a 100 TB run wants — the tiny max()
    scan is column-pruned to one column; the literal-free predicate
    costs the parquet min/max pushdown, the price of determinism)."""
    o = t(spark, sf_dir, "orders")
    anchor = o.agg(F.date_sub(F.max("o_orderdate"), 300).alias("_cutoff"))
    return (
        o.crossJoin(F.broadcast(anchor))
        .filter(F.col("o_orderdate") >= F.col("_cutoff"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), xsum(F.col("o_totalprice")).alias("total"))
    )
