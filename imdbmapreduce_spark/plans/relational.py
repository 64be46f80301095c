"""General relational operator surface (SURVEY.md §2.3 generalized, Phase 3).

The reference's dataflow core is filter/explode/hash-agg/intersect
(/root/reference/Code/mapReduce.erl:44-105); this module widens that to the
full relational algebra a user of a general engine needs — scans with
pushdown, the join family (broadcast/semi/anti), partial+final hash
aggregation, rollup, windows, top-k, set ops, JSON access — each as a
declarative DataFrame plan Catalyst can optimize, each with a DuckDB oracle.

Scale notes are attached per query: what shuffles, what broadcasts, and why
the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdbmapreduce_spark.catalog import table
from imdbmapreduce_spark.functions import (
    cents,
    cents_sum,
    one_minus_cents,
    one_plus_cents,
    top_k,
)
from imdbmapreduce_spark.operators.dedup import _DUCK_JAC_CTES as _NEARDUP_JAC_CTES
from imdbmapreduce_spark.cache import stable_checkpoint
from imdbmapreduce_spark.registry import query

# DuckDB spelling of the cents helpers (see imdbmapreduce_spark.functions:
# exact long-cents money math, identical bit-for-bit in both engines).
_C = "CAST(round({col}*100) AS BIGINT)"


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM({_C.format(col='l_quantity')}) AS DOUBLE)/100.0 AS sum_qty,
      CAST(SUM({_C.format(col='l_extendedprice')}) AS DOUBLE)/100.0 AS sum_base_price,
      CAST(SUM({_C.format(col='l_extendedprice')}
               * (100 - {_C.format(col='l_discount')})) AS DOUBLE)/10000.0
        AS sum_disc_price,
      CAST(SUM({_C.format(col='l_extendedprice')}
               * (100 - {_C.format(col='l_discount')})
               * (100 + {_C.format(col='l_tax')})) AS DOUBLE)/1000000.0
        AS sum_charge,
      CAST(SUM({_C.format(col='l_quantity')}) AS DOUBLE)/100.0/COUNT(*) AS avg_qty,
      CAST(SUM({_C.format(col='l_discount')}) AS DOUBLE)/100.0/COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → partial/final hash agg on low-cardinality keys.

    The reference hand-rolls exactly this partial+final dance for its actor
    counts (/root/reference/Code/mapReduce.erl:99-103 +
    Code/master.erl:315-329); here Catalyst's HashAggregate partial/final
    modes do it automatically inside whole-stage codegen.

    Scale: shuffle carries only |flags|×|status| (=6) groups per map task —
    map-side combine makes the exchange O(groups), independent of row count.
    Money math in long cents: exact, order-independent, and stays on the
    codegen long-sum fast path (decimal agg with precision >18 measured
    ~20× slower).
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = cents("l_extendedprice") * one_minus_cents("l_discount")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            cents_sum("l_quantity", "sum_qty"),
            cents_sum("l_extendedprice", "sum_base_price"),
            (F.sum(disc_price).cast("double") / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(disc_price * one_plus_cents("l_tax")).cast("double") / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(cents("l_quantity")).cast("double") / F.lit(100.0) / n).alias("avg_qty"),
            (F.sum(cents("l_discount")).cast("double") / F.lit(100.0) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT
      l_orderkey,
      CAST(SUM({_C.format(col='l_extendedprice')}
               * (100 - {_C.format(col='l_discount')})) AS DOUBLE)/10000.0
        AS revenue,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join fact → agg → top-k.

    Scale: the segment filter is pushed to the parquet scan; the filtered
    customer dim is broadcast into orders. The (orders⋈customer)→lineitem
    join is NOT hinted: that intermediate is fact-sized (date-filtered
    orders grow linearly with data), so forcing a broadcast would OOM at
    100× — AQE picks broadcast vs shuffle from the runtime size instead.
    The orders→lineitem shuffle on orderkey is the only unavoidable
    exchange — unavoidable on PLAIN parquet, that is: both fact reads
    pass ``prefer_bucketed_on`` (round 12, the q12-style opportunistic
    seam), so in a session whose orderkey twins exist the sort-merge
    form runs with both fact sides pre-partitioned (a BroadcastHashJoin
    preserves its streamed child's partitioning, so the orders side
    keeps the bucketing through the dim join). At test scale AQE
    broadcasts the date-filtered lineitem instead — the same
    strategy-vs-layout split q12's pin documents; the bucketed win is
    the at-scale SMJ path. Top-10 is a TakeOrdered, not a global sort.
    LIMIT has a total order (revenue, l_orderkey) so the selected set
    is deterministic.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders", prefer_bucketed_on="o_orderkey").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem", prefer_bucketed_on="l_orderkey").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            (
                F.sum(cents("l_extendedprice") * one_minus_cents("l_discount")).cast("double")
                / F.lit(10000.0)
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join — count
    orders per priority that have at least one late line.

    The reference has no subquery machinery at all; its nearest analog is
    the probe-set membership filter (/root/reference/Code/mapReduce.erl:55-60),
    which is likewise a semi-join. Adaptation: the synthetic lineitem has
    no l_commitdate/l_receiptdate, so "late" := shipped more than 90 days
    after the order date (same convention as q12).

    Scale: the quarter filter prunes orders at the scan; the semi-join on
    l_orderkey carries the cross-table lateness predicate as a join filter
    on the equi-join (never a theta join), and each order short-circuits at
    its first matching line — no duplicate-then-distinct blowup. One
    shuffle pair on orderkey, then a map-side-combined agg to |priorities|
    (=5) groups — and when the session's orderkey bucketed twins exist,
    both reads route through them (round 12, the q12/q3 opportunistic
    seam) and the semi-join's shuffle pair disappears in the sort-merge
    form. At 100×, AQE may flip the semi-join to shuffled-hash per
    partition size; semantics are unchanged.
    """
    orders = table(spark, sf_dir, "orders", prefer_bucketed_on="o_orderkey").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem", prefer_bucketed_on="l_orderkey")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q5_nation_revenue",
    oracle=f"""
    SELECT
      n_name,
      CAST(SUM({_C.format(col='l_extendedprice')}
               * (100 - {_C.format(col='l_discount')})) AS DOUBLE)/10000.0
        AS revenue,
      COUNT(*) AS n_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND c_mktsegment = 'MACHINERY'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, all dims broadcast.

    (TPC-H's customer-nation = supplier-nation colocation clause is
    dropped: the synthetic data has no such overlap, which would make the
    query a trivially-empty check.)

    Scale: lineitem is the only fact. nation (25 rows) and region (5 rows)
    are bounded — safe to broadcast unconditionally. orders, customer and
    supplier all grow linearly with data, so they carry NO broadcast hint:
    locally AQE still picks BroadcastHashJoin from their runtime size, and
    at 100× it degrades to a shuffle join instead of a driver OOM.
    Catalyst pushes the region filter through nation→supplier before the
    fact join.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            (
                F.sum(cents("l_extendedprice") * one_minus_cents("l_discount")).cast("double")
                / F.lit(10000.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "distinct_parts_per_flag",
    oracle="""
    SELECT
      l_returnflag,
      COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(DISTINCT l_suppkey) AS n_supps,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood).

    Scale: Spark rewrites multi-distinct via Expand; partial aggregation
    still dedups map-side so the shuffle carries distinct (flag, key)
    pairs, not raw rows.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "rollup_revenue",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM({_C.format(col='l_extendedprice')}) AS DOUBLE)/100.0 AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping-sets family; SURVEY §2.5 gap fill).

    Scale: Expand multiplies rows ×3 (grouping sets) before the partial
    agg, but the combine collapses to |sets|×|groups| rows on the wire.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        cents_sum("l_extendedprice", "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "top_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
      SELECT
        o_orderpriority,
        o_orderkey,
        o_totalprice,
        ROW_NUMBER() OVER (
          PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey
        ) AS rn
      FROM orders
    )
    WHERE rn <= 5
    """,
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window (SURVEY §2.5 gap fill).

    Scale: one shuffle on the partition key; rank order includes a
    tiebreaker (o_orderkey) so results are deterministic. AQE handles a
    skewed priority. The per-group
    :func:`~imdbmapreduce_spark.functions.top_k` plans as
    WindowGroupLimit, which keeps each partition's first 5 rows per
    priority before the shuffle.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return top_k(
        orders, 5, F.desc("o_totalprice"), "o_orderkey", by="o_orderpriority", rank="rn"
    )


@query(
    "customer_running_spend",
    oracle=f"""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM({_C.format(col='o_totalprice')}) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE)/100.0 AS running_spend
    FROM orders
    WHERE o_custkey < 100
    """,
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (cumulative frame).

    Long-cents accumulation keeps the running sum bit-exact regardless of
    frame evaluation strategy; order includes o_orderkey tiebreaker since
    order dates collide.
    """
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents("o_totalprice")).over(w).cast("double") / F.lit(100.0)).alias(
            "running_spend"
        ),
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
    )
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no orders in 1995H1.

    (Date-bounded because every synthetic customer has *some* order — the
    unbounded variant would be a trivially-empty check.)

    Scale: the probe-side dedup is implicit in anti-join semantics; with a
    small distinct key set the build side broadcasts (BroadcastHashJoin,
    anti), else AQE falls back to shuffle-hash.
    """
    cust = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "priority_with_late_lines",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, then agg.

    Scale: semi join on orderkey dedups the fact side during the join (no
    post-join distinct); shuffle keyed on orderkey only.
    """
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "part_type_pivot",
    oracle=f"""
    SELECT
      p_brand,
      CAST(SUM(CASE WHEN p_type = 'ECONOMY'  THEN {_C.format(col='p_retailprice')} ELSE 0 END) AS DOUBLE)/100.0 AS economy,
      CAST(SUM(CASE WHEN p_type = 'STANDARD' THEN {_C.format(col='p_retailprice')} ELSE 0 END) AS DOUBLE)/100.0 AS standard,
      CAST(SUM(CASE WHEN p_type = 'PROMO'    THEN {_C.format(col='p_retailprice')} ELSE 0 END) AS DOUBLE)/100.0 AS promo
    FROM part
    GROUP BY p_brand
    """,
)
def part_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) expressed as conditional aggregation.

    Using explicit CASE WHEN sums (not .pivot()) keeps the plan a single
    hash aggregate — same shuffle profile as any groupBy, and the column
    set is statically known, which a 100 TB job wants anyway.
    """
    part = table(spark, sf_dir, "part")

    def bucket(t: str, alias: str) -> F.Column:
        return (
            F.sum(
                F.when(F.col("p_type") == t, cents("p_retailprice")).otherwise(F.lit(0))
            ).cast("double")
            / F.lit(100.0)
        ).alias(alias)

    return part.groupBy("p_brand").agg(
        bucket("ECONOMY", "economy"),
        bucket("STANDARD", "standard"),
        bucket("PROMO", "promo"),
    )


@query(
    "lineitem_metrics_unpivot",
    oracle=f"""
    WITH a AS (
      SELECT l_returnflag,
             SUM({_C.format(col='l_quantity')}) AS sum_qty,
             SUM({_C.format(col='l_extendedprice')}) AS sum_base_price,
             SUM({_C.format(col='l_discount')}) AS sum_disc
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty' AS metric,
           CAST(sum_qty AS BIGINT) AS value_cents FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_base_price', CAST(sum_base_price AS BIGINT) FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_disc', CAST(sum_disc AS BIGINT) FROM a
    """,
)
def lineitem_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of part_type_pivot's wide
    aggregation: wide per-flag metric columns reshape to long
    (flag, metric, value) rows, the form metric stores and plotting
    layers ingest.

    Spark's native ``DataFrame.unpivot`` lowers to an Expand node — each
    input row fans out to |metrics| output rows inside the same stage,
    no join and no shuffle beyond the upstream aggregation's. The
    aggregate runs FIRST, so the expand multiplies |groups| rows, not
    the fact table. Values stay exact long cents.
    """
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(cents("l_quantity")).alias("sum_qty"),
        F.sum(cents("l_extendedprice")).alias("sum_base_price"),
        F.sum(cents("l_discount")).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_base_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value_cents",
    )


@query(
    "nation_customer_supplier_union",
    oracle="""
    SELECT n_nationkey, kind, n FROM (
      SELECT c_nationkey AS n_nationkey, 'customer' AS kind, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey
      UNION ALL
      SELECT s_nationkey AS n_nationkey, 'supplier' AS kind, COUNT(*) AS n
      FROM supplier GROUP BY s_nationkey
    )
    """,
)
def nation_customer_supplier_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: unionByName of two aggregated branches (X5 analog).

    The reference's gather step is a bare concat of per-partition results
    (/root/reference/Code/master.erl:212-229); union-all is its relational
    form.
    """
    cust = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("kind", F.lit("customer"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("kind", F.lit("supplier"))
    )
    return cust.unionByName(supp).select("n_nationkey", "kind", "n")


@query(
    "parts_intersect_except",
    oracle="""
    SELECT l_partkey FROM (
      (SELECT DISTINCT l_partkey
       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       WHERE s_nationkey = 1
       INTERSECT
       SELECT DISTINCT l_partkey
       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       WHERE s_nationkey = 2)
      EXCEPT
      SELECT DISTINCT l_partkey
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 3
    )
    """,
)
def parts_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations INTERSECT / EXCEPT (SURVEY §2.5 gap fill): parts
    shipped by suppliers of nations 1 AND 2 but not 3.

    Scale: each branch joins the fact to a one-nation supplier slice —
    linearly growing, so no broadcast hint (AQE broadcasts it locally from
    its runtime size, shuffle-joins at 100×); then a distinct on
    l_partkey. Spark plans INTERSECT/EXCEPT as left-semi/left-anti joins
    over the deduped branches, so every exchange keys on l_partkey —
    high-cardinality, unskewed.
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")

    def nation_parts(nk: int) -> DataFrame:
        supp = (
            table(spark, sf_dir, "supplier")
            .filter(F.col("s_nationkey") == nk)
            .select("s_suppkey")
        )
        return li.join(supp, li.l_suppkey == supp.s_suppkey).select("l_partkey")

    return nation_parts(1).intersect(nation_parts(2)).exceptAll(nation_parts(3).distinct())


@query(
    "cube_order_stats",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      CAST(SUM({_C.format(col='o_totalprice')}) AS DOUBLE)/100.0 AS total_price,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id: all 4 grouping sets of (status, priority).

    Completes the grouping-sets family next to rollup_revenue. The gid
    column disambiguates real NULLs from subtotal rows — the standard
    downstream-consumer contract for cube output.

    Scale: Expand ×4 before partial agg; the exchange still carries only
    |sets|×|groups| combined rows thanks to map-side combine.
    """
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        cents_sum("o_totalprice", "total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "limit_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 85000
    """,
)
def limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first-N (R17: the reference's 85k ingest cap,
    /root/reference/Code/csv_to_ets.erl:21).

    The reference caps by file position; a distributed engine needs an
    explicit total order for "first N" to mean anything, so we order by
    the key. TakeOrderedAndProject avoids a global sort.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(85000)
    )


_Q17_BRAND = "Brand#1"


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH li AS (
      SELECT l_partkey,
             {_C.format(col='l_quantity')} AS qc,
             {_C.format(col='l_extendedprice')} AS pc
      FROM lineitem
    ), agg AS (
      SELECT l_partkey, SUM(qc) AS sq, COUNT(*) AS cnt FROM li GROUP BY 1
    )
    SELECT CAST(SUM(li.pc) AS DOUBLE)/100.0/7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM li
    JOIN agg USING (l_partkey)
    JOIN part p ON li.l_partkey = p.p_partkey
    WHERE p.p_brand = '{_Q17_BRAND}' AND li.qc * 5 * agg.cnt < agg.sq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate — lineitems whose quantity is
    below 20% of their part's average, revenue summed.

    The correlation (qty < 0.2 × avg per part) is decorrelated into a
    per-part aggregate joined back on partkey, and the 0.2×avg comparison
    is cross-multiplied into exact integers (qc·5·cnt < sum_qc) so no
    division ever happens — bit-identical in both engines.

    Scale: the fact is exchanged twice — once into the per-part aggregate
    and once for the join-back (the aggregate side reuses its
    partitioning). The alternative one-exchange form (sum/count over a
    partitionBy window) trades the second exchange for a per-partition
    sort; measured equivalent at sf0.1, and the join form wins when the
    aggregate output is much smaller than the fact. The brand dim filter
    pushes to the part scan and AQE sizes that join side.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_quantity").alias("qc"),
        cents("l_extendedprice").alias("pc"),
    )
    agg = li.groupBy("l_partkey").agg(
        F.sum("qc").alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == _Q17_BRAND)
    return (
        li.join(agg, "l_partkey")
        .join(part, li.l_partkey == part.p_partkey)
        .filter(F.col("qc") * 5 * F.col("cnt") < F.col("sq"))
        .agg(
            (F.sum("pc").cast("double") / 100.0 / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q18_MIN_QTY_CENTS = 25_000  # orders totaling > 250 quantity units


@query(
    "q18_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, SUM({_C.format(col='l_quantity')}) AS sum_qc
      FROM lineitem GROUP BY 1
      HAVING SUM({_C.format(col='l_quantity')}) > {_Q18_MIN_QTY_CENTS}
    )
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST({_C.format(col='o.o_totalprice')} AS DOUBLE)/100.0 AS total_price,
           CAST(big.sum_qc AS DOUBLE)/100.0 AS sum_qty
    FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING filter on an aggregate, joined back to the
    dimension row — the "large volume customers" pattern. Since round 12
    this is the BUCKETED LAYOUT'S standing consumer (r11 verdict task
    2): both fact tables route through their full-column orderkey-
    bucketed twins (``catalog.table(..., prefer_bucketed_on=...)``,
    built once per session at ingest-time cost), so the whole plan —
    the groupBy(l_orderkey) aggregation AND the orders join — runs with
    ZERO Exchange nodes (pinned in tests/test_layout.py, beside the
    hash-equality pin against the plain-parquet form). The merge hint
    keeps the exchange question visible on the small test corpus;
    at 100 TB neither side broadcasts and the bucketed sort-merge join
    IS the plan. Quantities compare as exact cents.

    Plain-parquet fallback: with no twin built the same text runs the
    r11 plan (one fact exchange into the aggregate, AQE broadcasts the
    decimated HAVING output) — the seam degrades to exactly what
    shipped before, measured as the A/B in SCALE.md round 12.
    """
    from imdbmapreduce_spark.operators.layout import (
        bucketed_layout_if_exists,
        ensure_bucketed_layout,
    )

    ensure_bucketed_layout(spark, sf_dir, "lineitem", "l_orderkey")
    ensure_bucketed_layout(spark, sf_dir, "orders", "o_orderkey")
    li = table(spark, sf_dir, "lineitem", prefer_bucketed_on="l_orderkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("sum_qc"))
        .filter(F.col("sum_qc") > _Q18_MIN_QTY_CENTS)
    )
    orders = table(spark, sf_dir, "orders", prefer_bucketed_on="o_orderkey")
    # the merge hint belongs to the BUCKETED plan only (it is what makes
    # the exchange-free SMJ visible at test scale); in the no-twin
    # fallback the r11 plan's AQE broadcast of the decimated HAVING
    # output is strictly better than a forced sort-merge
    routed = (
        bucketed_layout_if_exists(spark, sf_dir, "orders", "o_orderkey")
        is not None
    )
    big_side = big.hint("merge") if routed else big
    return (
        orders.join(big_side, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            (cents("o_totalprice").cast("double") / 100.0).alias("total_price"),
            (F.col("sum_qc").cast("double") / 100.0).alias("sum_qty"),
        )
    )


@query(
    "price_quartiles",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont({_C.format(col='l_extendedprice')}, 0.25) AS p25,
           quantile_cont({_C.format(col='l_extendedprice')}, 0.50) AS p50,
           quantile_cont({_C.format(col='l_extendedprice')}, 0.75) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quartiles via histogram-guided distributed selection
    — no per-group sort, so exactness survives few-giant-groups data.

    The naive exact plan (`F.percentile`) sorts each group's values; with
    3 return flags each group is a third of the table, a named scale-killer
    at 100 TB. This plan computes the same bit-exact answer in three cheap
    passes, all map-side combinable:

      1. global (min, max) of the cents value → fixed bucket width
         (~4k buckets). Read from the parquet FOOTER zone maps
         (catalog.parquet_column_minmax) — a driver-side metadata sweep,
         ZERO rows scanned; falls back to a two-long agg scan when any
         row group lacks statistics. HALF_UP cents rounding is monotone,
         so round(min)·100 == min of the rounded column, bit-exact;
      2. per-(group, bucket) histogram — a partial/final count agg whose
         exchange carries at most |groups|·4k tiny rows PER TASK (4k, not
         more: map-side combine only compresses when bucket count is well
         under per-task row count); a running sum over each group's ≤4k
         histogram rows (driver-sized window)
         locates, for each target rank k = ⌊p·(n−1)⌋ and its neighbor
         k+1, the ONE bucket containing that rank;
      3. re-scan joined (broadcast — ≤6 rows/group) against the needed
         buckets: only rows inside those buckets survive the filter, and
         a row_number sort within each needed bucket (≈n/4096 rows each)
         yields the order statistics; linear interpolation at quarter
         fractions is exact in binary floating point, so the result
         hash-matches DuckDB's `quantile_cont` bit-for-bit.

    Scale: one full scan + one pruned scan (min/max is metadata), no
    giant sort anywhere; the
    only per-row shuffle is the histogram partial agg. Degenerate case
    (one value dominating a bucket) makes step 3's bucket large, but the
    quantile then sits inside a run of equal values and the sort is of
    duplicates — recursive bucket refinement is the standard fix if a
    profile ever shows it. `approx_quantile_error` below audits the
    sketch alternative against this exact plan.
    """
    import math

    from imdbmapreduce_spark.catalog import parquet_column_minmax

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents("l_extendedprice").alias("pc")
    )
    stats = parquet_column_minmax(sf_dir, "lineitem", "l_extendedprice")
    if stats is not None:
        # F.round is half-away-from-zero (Python round() is banker's);
        # floor(x+0.5) only matches for x>=0, so mirror the negative
        # branch explicitly. Bounds only set pruning granularity here,
        # but keep the helper honest for reuse on signed columns.
        half_away = lambda v: int(math.floor(v * 100 + 0.5)) if v >= 0 else -int(
            math.floor(-v * 100 + 0.5)
        )
        lo, hi = (half_away(v) for v in stats)
    else:
        lo, hi = li.agg(F.min("pc"), F.max("pc")).first()
    # 4k buckets, not 64k: map-side combine only compresses the
    # histogram exchange when per-task row count >> bucket count. At 4k
    # the shuffle carries |groups|*4k rows per task regardless of data
    # volume; step 3's needed buckets grow to n/4096 rows each — still a
    # vanishing pruned scan, and the final per-bucket sort is tiny.
    width = max(1, (hi - lo) // 4096 + 1)
    b = li.withColumn("bkt", F.expr(f"(pc - {lo}) div {width}"))

    hist = b.groupBy("l_returnflag", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.partitionBy("l_returnflag").orderBy("bkt")
    # The histogram (≤|groups|·4k rows) feeds four downstream branches
    # (totals → ranks → needed, and the bucket lookup); localCheckpoint
    # materializes it once so the full-scan agg isn't re-run per branch.
    # On a real cluster use durable checkpoint for fault tolerance.
    hist = hist.withColumn("below", F.sum("cnt").over(wcum) - F.col("cnt")).transform(stable_checkpoint)
    totals = hist.groupBy("l_returnflag").agg(F.sum("cnt").alias("n"))

    ranks = (
        totals.select(
            "l_returnflag",
            "n",
            F.explode(F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))).alias("p"),
        )
        .withColumn("k0", F.floor(F.col("p") * (F.col("n") - 1)).cast("long"))
        .withColumn("k1", F.least(F.col("k0") + 1, F.col("n") - 1))
    )
    needed = ranks.select(
        "l_returnflag", F.explode(F.array_distinct(F.array("k0", "k1"))).alias("k")
    ).distinct()

    need_buckets = (
        hist.join(needed, "l_returnflag")
        .filter((F.col("k") >= F.col("below")) & (F.col("k") < F.col("below") + F.col("cnt")))
        .select("l_returnflag", "bkt", "below")
        .distinct()
    )

    # ≤6 needed (group, bucket) rows per group — broadcast is bounded by
    # construction, independent of data volume.
    cand = b.join(F.broadcast(need_buckets), ["l_returnflag", "bkt"])
    wrank = Window.partitionBy("l_returnflag", "bkt").orderBy("pc")
    # ≤6 rows per group survive; materialize so the v0/v1 branches below
    # don't each re-run the pruned scan.
    at_rank = (
        cand.withColumn("k", F.col("below") + F.row_number().over(wrank) - 1)
        .join(needed, ["l_returnflag", "k"], "inner")
        .transform(stable_checkpoint)
    )

    v0 = at_rank.select("l_returnflag", F.col("k").alias("k0"), F.col("pc").alias("v0"))
    v1 = at_rank.select("l_returnflag", F.col("k").alias("k1"), F.col("pc").alias("v1"))
    # v0/v1 are ≤6 rows per group BY CONSTRUCTION (the needed order
    # statistics), but they sit behind the checkpoint, whose missing
    # stats made the planner pick SortMergeJoin — exchanging and
    # sorting 9-row frames (r13, caught in the before-dump; guide §3.1:
    # pick the strategy deliberately when sizes are known). Broadcast
    # hints are scale-safe here: the frames are rank-count-sized at any
    # data volume (plans/r13/price_quartiles_{before,after}.txt).
    q = (
        ranks.join(F.broadcast(v0), ["l_returnflag", "k0"])
        .join(F.broadcast(v1), ["l_returnflag", "k1"])
        .withColumn("frac", F.col("p") * (F.col("n") - 1) - F.col("k0"))
        .withColumn(
            "val",
            F.col("v0").cast("double")
            + F.col("frac") * (F.col("v1") - F.col("v0")).cast("double"),
        )
    )
    return q.groupBy("l_returnflag").agg(
        F.max("n").alias("n_lines"),
        F.max(F.when(F.col("p") == 0.25, F.col("val"))).alias("p25"),
        F.max(F.when(F.col("p") == 0.50, F.col("val"))).alias("p50"),
        F.max(F.when(F.col("p") == 0.75, F.col("val"))).alias("p75"),
    )


# Sketch accuracy parameter: accuracy=10000 gives the GK sketch a
# DETERMINISTIC (not probabilistic) worst-case rank error of
# eps = 1/10000. The audit verifies the contract in RANK space with
# exact integer counts — a value-space bracket of interpolated
# quantiles collapses between adjacent order statistics when eps*n < 1
# (the sketch returns an actual ELEMENT, which then sits outside any
# strictly-interior interpolated interval).
_AQ_ACC = 10000


# bench=False: this is the accuracy AUDIT for the sketch path and
# deliberately carries the exact percentile as its yardstick —
# correctness-gated, kept out of the timed headline sweep.
@query(
    "approx_quantile_error",
    bench=False,
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(round(quantile_cont({_C.format(col='l_extendedprice')}, 0.5)
                      * 1000000) AS BIGINT) AS exact_p50_q6,
           TRUE AS sketch_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_percentile` audited against the exact percentile — the
    scale path for quantiles over few-giant-groups data, self-reporting
    its accuracy, and (r6 verdict item 6) now HASH-CHECKED, not
    rows-only. Emitted: the exact median (quantized — repo rule: never
    hash a raw interpolated double) and the boolean `sketch_within_bound`
    verdict of the sketch's DETERMINISTIC contract (GK with accuracy
    _AQ_ACC=10000 bounds rank error at 1/10000 by construction, not with
    probability). The raw sketch estimate is partition-order-dependent
    and engine-specific, so it cannot be a hashed column — but whether
    it HONORS ITS CONTRACT is deterministic, and that is the claim the
    external oracle certifies: DuckDB recomputes the exact median and
    pins TRUE; a contract violation on the Spark side hashes as FALSE
    and fails the driver gate.

    The rank check is exact integer arithmetic on both sides of the
    inequality: with v the sketch's answer, B = |{{x : x < v}}| and
    E = |{{x : x <= v}}|, the contract (±eps·n rank error, ±2 ranks of
    convention slack) is
    ``2·acc·B <= acc·n + 2·n + 4·acc`` and
    ``2·acc·E >= acc·n - 2·n - 4·acc``.

    Scale: the sketch is a bounded-size mergeable summary per group,
    combined map-side; the rank counts are one broadcast join of the
    3-row verdict table back to the scan plus a count agg — two passes
    total for an audit that runs out-of-band of the headline sweep. The
    exact side is the percentile plan (at 100 TB swap in the
    histogram-guided selection of :func:`price_quartiles`).
    tests/test_relational_extra.py additionally locks the raw
    estimate's relative error.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents("l_extendedprice").alias("pc")
    )
    sk = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.percentile(F.col("pc"), F.lit(0.5)).alias("_exact"),
        F.approx_percentile(F.col("pc"), F.lit(0.5), F.lit(_AQ_ACC))
        .cast("long")
        .alias("_approx"),
    )
    cnt = (
        li.join(F.broadcast(sk), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("n_lines").alias("n_lines"),
            F.max("_exact").alias("_exact"),
            F.sum(F.when(F.col("pc") < F.col("_approx"), 1).otherwise(0))
            .cast("long")
            .alias("_below"),
            F.sum(F.when(F.col("pc") <= F.col("_approx"), 1).otherwise(0))
            .cast("long")
            .alias("_below_eq"),
        )
    )
    acc, n = F.lit(_AQ_ACC), F.col("n_lines")
    ok = (
        (2 * acc * F.col("_below") <= acc * n + 2 * n + 4 * acc)
        & (2 * acc * F.col("_below_eq") >= acc * n - 2 * n - 4 * acc)
    )
    return cnt.select(
        "l_returnflag",
        "n_lines",
        F.round(F.col("_exact") * 1_000_000).cast("long").alias("exact_p50_q6"),
        ok.alias("sketch_within_bound"),
    )


# Knuth multiplicative hash — shared verbatim with the oracle SQL so the
# sampled row SET is engine-independent (md5/xxhash availability and hex
# casting differ across engines; integer arithmetic doesn't). The key is
# folded to 31 bits BEFORE the multiply so (2^31-1)*2654435761 ≈ 5.7e18
# stays inside int64 for ANY key — no ANSI/BIGINT overflow at scale; the
# fold is the identity for keys < 2^31. Production note: for string keys
# use xxhash64/md5 — any uniform keyed hash works, the contract is only
# "deterministic function of the key".
_SAMPLE_HASH = (
    "((((({key} % 2147483648) + 2147483648) % 2147483648)"
    " * 2654435761) % 4294967296)"
)
_SAMPLE_PCT = 10  # keep ~10%


@query(
    "stratified_sample",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM orders
    WHERE {_SAMPLE_HASH.format(key='o_orderkey')} < 4294967296 * {_SAMPLE_PCT} / 100
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample per stratum: keep a row iff a
    multiplicative hash of its key lands in the bottom 10% of hash space.

    THE sampling primitive for training pipelines: re-runnable (same rows
    every run — `df.sample` reseeds per partition layout), join-stable
    (two tables sampled on the same key keep matching rows, so a sampled
    fact still joins its sampled dimension), and shard-independent
    (membership depends only on the key, not partition order, unlike
    TABLESAMPLE). Stratification is free: the hash is uniform within
    every o_orderpriority stratum, so each stratum is sampled at ~10%
    without a per-stratum pass.

    Scale: a map-only filter fused into the scan — no shuffle, no state,
    pushes down past column pruning. Changing the rate is a literal edit;
    consistent up/down-sampling (keep ⊂ keep') holds because the kept set
    is a hash-space prefix.
    """
    orders = table(spark, sf_dir, "orders")
    low = (
        (F.col("o_orderkey") % F.lit(2147483648)) + F.lit(2147483648)
    ) % F.lit(2147483648)
    h = (low * F.lit(2654435761)) % F.lit(4294967296)
    return (
        orders.filter(h < F.lit(4294967296) * _SAMPLE_PCT / 100)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer join with a join-side predicate, then a
    distribution-of-counts — "how many customers placed N orders",
    including the zero-order customers an inner join would drop.

    The predicate lives in the JOIN CONDITION, not a WHERE (a WHERE would
    turn the outer join back into an inner one) — the classic outer-join
    filter-placement trap, locked by the oracle.

    Scale: fact shuffles on o_custkey into the join; first agg reuses that
    partitioning (groupBy the join key — no second exchange); the final
    histogram agg is |distinct counts| rows. Customer-side skew (one mega
    customer) is AQE skew-join territory.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q22_dormant_rich_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT AVG({_C.format(col='c_acctbal')}) AS a FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM({_C.format(col='c.c_acctbal')}) AS DOUBLE)/100.0 AS total_bal
    FROM customer c, avg_bal
    WHERE {_C.format(col='c.c_acctbal')} > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-aggregate subquery (global average balance)
    + anti join (customers with no orders) + group-sum — "rich customers
    we never hear from".

    The scalar subquery is decorrelated by hand into a 1-row DataFrame
    cross-joined in (broadcast by construction) — the same plan Catalyst
    derives for an uncorrelated scalar subquery, stated explicitly.
    Average compares in exact cents; only the reported sum becomes a
    double.

    Scale: the 1-row average broadcasts; the anti join shuffles customer
    against orders' custkey projection (or broadcasts, AQE's call); the
    final agg is |segments| rows. Exactly two fact-sized exchanges.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg(cents("c_acctbal")).alias("a"))
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(cents("c_acctbal") > F.col("a"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (F.sum(cents("c_acctbal")).cast("double") / 100.0).alias("total_bal"),
        )
    )


# --- round-3 TPC-H shapes: volume join, top-k revenue, conditional ratio,
# --- NOT IN + distinct agg, disjunctive pushdown, sole-late-supplier ------


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM({_C.format(col='l.l_extendedprice')}
                    * (100 - {_C.format(col='l.l_discount')})) AS DOUBLE)/10000.0
             AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year — the
    dual-dimension star (one fact, TWO independent nation lookups through
    different foreign-key paths) with a cross-branch disjunction.

    Scale: nation is bounded (broadcast both aliases); the nation-pair
    filter can't push below the joins that bind n1/n2, but Catalyst pushes
    each side's IsNotNull and prunes columns; supplier/customer/orders
    grow with data so they carry no hint — AQE picks broadcast locally and
    degrades to shuffle joins at 100×.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            (
                F.sum(cents("l_extendedprice") * one_minus_cents("l_discount")).cast("double")
                / F.lit(10000.0)
            ).alias("volume")
        )
    )


@query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_C.format(col='l.l_extendedprice')}
                    * (100 - {_C.format(col='l.l_discount')})) AS DOUBLE)/10000.0
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost revenue from returned items, top 20 customers
    in a quarter — selective fact filters + star join + global top-k.

    Scale: both date and returnflag predicates push to the scans (orders
    and lineitem respectively) BEFORE the join, so the join input is one
    quarter x one flag; the top-k is orderBy+limit, which Spark executes
    as TakeOrderedAndProject (per-partition heaps, never a global sort).
    The (revenue, custkey) tiebreak makes the selected 20 deterministic.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1998-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (
                F.sum(cents("l_extendedprice") * one_minus_cents("l_discount")).cast("double")
                / F.lit(10000.0)
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0e0 * SUM(CASE WHEN p.p_type = 'PROMO'
                            THEN {_C.format(col='l.l_extendedprice')}
                                 * (100 - {_C.format(col='l.l_discount')})
                            ELSE 0 END)
                 / SUM({_C.format(col='l.l_extendedprice')}
                       * (100 - {_C.format(col='l.l_discount')}))
             AS promo_pct,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in a month — conditional
    aggregation (ratio of a CASE-gated sum to the total) over a
    fact-to-dim join.

    Both sums are exact integers (cents x discount-complement); only the
    final ratio is floating point, so the single output row hash-matches.

    Scale: the month filter pushes to the lineitem scan; part joins on
    its key (AQE broadcasts while it fits). The aggregation is a
    partial/final pair carrying two longs per map task.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    part = table(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * one_minus_cents("l_discount")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                / F.sum(rev)
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, type, size) — negated dim predicates + a NOT IN exclusion
    subquery + COUNT(DISTINCT) per group. lineitem stands in for partsupp
    as the part-supplier relation (the synthetic schema has no partsupp).

    The NOT IN is a left-anti join against the (small, filtered)
    bad-supplier set — keys are non-null by construction so anti-join and
    NOT IN coincide (the classic NOT IN null trap doesn't apply, and the
    oracle exercises the real NOT IN path).

    Scale: dim predicates prune part before the join; the anti join's
    right side is the filtered supplier subset (AQE broadcasts it); the
    distinct agg is Spark's two-phase partial-distinct — no row explosion.
    """
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    li = table(spark, sf_dir, "lineitem")
    bad_supp = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_C.format(col='l.l_extendedprice')}
                    * (100 - {_C.format(col='l.l_discount')})) AS DOUBLE)/10000.0
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 1 AND l.l_quantity <= 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a three-branch disjunction mixing
    predicates from BOTH join sides — the test for OR-handling in the
    optimizer.

    Scale: Catalyst projects each side's slice of every OR branch and
    pushes the resulting per-side disjunction to that scan (lineitem gets
    the OR of the quantity ranges; part gets p_size >= 1 plus the OR of
    the brand/size conjunctions), so neither side is scanned unfiltered
    even though the full cross-side disjunction can only evaluate after
    the join. Locked by
    test_scale_claims.test_q19_disjunction_pushes_partial_filters_to_both_scans.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(part, part.p_partkey == li.l_partkey)
    br = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 40)
        )
    )
    return j.filter(br).agg(
        (
            F.sum(cents("l_extendedprice") * one_minus_cents("l_discount")).cast("double")
            / F.lit(10000.0)
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q21_sole_late_suppliers",
    oracle="""
    WITH fact AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(*) AS n_supp,
             SUM(is_late) AS n_late
      FROM fact GROUP BY 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM fact f
    JOIN per_order po ON f.l_orderkey = po.l_orderkey
    JOIN supplier s ON f.l_suppkey = s.s_suppkey
    WHERE f.is_late = 1 AND po.n_late = 1 AND po.n_supp >= 2
    GROUP BY 1
    """,
)
def q21_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order. The textbook form is a correlated
    EXISTS + NOT EXISTS pair; this plan is the decorrelated equivalent
    Catalyst itself would target — per-(order, supplier) lateness, then
    per-order supplier/late counts, then the sole-late filter — expressed
    directly so the two-level aggregation shape is explicit (same
    rewrite DuckDB runs via the oracle, so results hash-match).

    Scale: the (order, supplier, late) fact is consumed twice (the
    per-order rollup and the sole-late filter join); Spark does not
    common-subexpression a DataFrame referenced twice across a self-join,
    so without materialization the lineitem⋈orders agg runs twice —
    verified in the executed plan. localCheckpoint materializes the fact
    once (it is the aggregated per-(order,supplier) set, a fraction of
    lineitem); both consumers then shuffle that small set on l_orderkey.
    On a real cluster use persist()/durable checkpoint for the same
    effect with fault tolerance.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = table(spark, sf_dir, "supplier")
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("is_late")
        )
        .transform(stable_checkpoint)
    )
    per_order = fact.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    return (
        fact.join(per_order, "l_orderkey")
        .filter((F.col("is_late") == 1) & (F.col("n_late") == 1) & (F.col("n_supp") >= 2))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "customer_upsert_merge",
    oracle=f"""
    WITH updates AS (
      SELECT c_custkey, {_C.format(col='c_acctbal')} + 10000 AS bal_cents
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 0
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.bal_cents, {_C.format(col='b.c_acctbal')}) AS bal_cents,
           CASE WHEN b.c_custkey IS NULL THEN 'inserted'
                WHEN u.c_custkey IS NULL THEN 'kept'
                ELSE 'updated' END AS merge_action
    FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
    """,
)
def customer_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert (MERGE INTO / SCD-1) as a FULL OUTER join: an updates
    batch (here derived deterministically — every 5th customer gets a
    +100.00 balance adjustment, every 7th spawns a new key) merged into
    the base snapshot, each output row tagged with its merge action.

    This is the batch-merge primitive behind incremental table
    maintenance; the same plan under a Delta/Iceberg table becomes MERGE
    INTO with file-level pruning.

    Scale: one shuffle of each side on the merge key (or zero with both
    sides bucketed on it — the layout test_bucketing.py proves); the
    updates batch is usually the small side, and AQE broadcast-joins it,
    degrading to shuffle as it grows. Balance math in exact cents.
    """
    base = table(spark, sf_dir, "customer")
    cust = base.select("c_custkey", cents("c_acctbal").alias("old_cents"))
    updates = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", (F.col("old_cents") + 10000).alias("bal_cents"))
        .unionAll(
            cust.filter(F.col("c_custkey") % 7 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.lit(0).cast("long").alias("bal_cents"),
            )
        )
    )
    b = cust.alias("b")
    u = updates.alias("u")
    return b.join(u, F.col("b.c_custkey") == F.col("u.c_custkey"), "full_outer").select(
        F.coalesce(F.col("u.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.bal_cents"), F.col("b.old_cents")).alias("bal_cents"),
        F.when(F.col("b.c_custkey").isNull(), F.lit("inserted"))
        .when(F.col("u.c_custkey").isNull(), F.lit("kept"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
    )


@query(
    "lineitem_profile",
    oracle=f"""
    SELECT 'l_quantity' AS col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           COUNT(DISTINCT {_C.format(col='l_quantity')}) AS n_distinct,
           CAST(MIN({_C.format(col='l_quantity')}) AS DOUBLE)/100.0 AS min_val,
           CAST(MAX({_C.format(col='l_quantity')}) AS DOUBLE)/100.0 AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(*), COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT {_C.format(col='l_extendedprice')}),
           CAST(MIN({_C.format(col='l_extendedprice')}) AS DOUBLE)/100.0,
           CAST(MAX({_C.format(col='l_extendedprice')}) AS DOUBLE)/100.0
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(*), COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT {_C.format(col='l_discount')}),
           CAST(MIN({_C.format(col='l_discount')}) AS DOUBLE)/100.0,
           CAST(MAX({_C.format(col='l_discount')}) AS DOUBLE)/100.0
    FROM lineitem
    """,
)
def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the describe/data-quality pass a pipeline runs
    before trusting a new drop): rows, nulls, exact distincts, min/max
    per numeric column, one output row per column.

    Scale: all three column profiles compute in ONE scan — the per-column
    aggregates are independent aggregate expressions over the same pass,
    then a tiny unpivot reshapes (column, stat) rows; only the exact
    distinct counts expand (Spark rewrites multi-distinct into an
    expand + two-phase agg: one shuffle per distinct column's key space).
    At 100 TB swap exact distincts for approx_count_distinct and the
    expand disappears; min/max/counts stay map-side.
    """
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        cc = cents(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(cc).alias(f"{c}__dist"),
            (F.min(cc).cast("double") / 100.0).alias(f"{c}__min"),
            (F.max(cc).cast("double") / 100.0).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    rows = [
        wide.select(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__null").alias("n_null"),
            F.col(f"{c}__dist").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in cols
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# Price bands: a tiny derived dimension with [lo, hi) ranges — the
# non-equi (range) join's lookup side.
_BANDS = [  # cents; covers the full synthetic price range (~90k..1.05e7)
    ("budget", 0, 2_000_000),
    ("mid", 2_000_000, 5_000_000),
    ("premium", 5_000_000, 8_000_000),
    ("luxury", 8_000_000, 20_000_000),
]


@query(
    "price_band_assignment",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
    )
    SELECT b.band,
           COUNT(*) AS n_lines,
           CAST(SUM({_C.format(col='l.l_extendedprice')}) AS DOUBLE)/100.0 AS total_price
    FROM lineitem l
    JOIN bands b
      ON {_C.format(col='l.l_extendedprice')} >= b.lo
     AND {_C.format(col='l.l_extendedprice')} < b.hi
    GROUP BY 1
    """,
)
def price_band_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: every lineitem priced into a half-open
    [lo, hi) band from a tiny banding dimension — the lookup-table shape
    behind rate cards, tax brackets and SLA tiers.

    Scale: a non-equi join has no hash key, so the ONLY scale-safe
    physical plan is broadcast-nested-loop with a bounded build side —
    the bands table is constant-sized by construction, each fact row
    tests ≤|bands| ranges, and the fact never shuffles (the groupBy after
    it exchanges |bands| partial rows). A growing right side would force
    a cartesian product: that variant needs interval bucketing (map the
    fact to band candidates by value div step, then equi-join) — same
    trick the as-of join family uses.
    """
    li = table(spark, sf_dir, "lineitem")
    bands = li.sparkSession.createDataFrame(_BANDS, "band string, lo long, hi long")
    pc = cents("l_extendedprice")
    return (
        li.join(
            F.broadcast(bands),
            (pc >= F.col("lo")) & (pc < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            cents_sum("l_extendedprice", "total_price"),
        )
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM({_C.format(col='l_extendedprice')}
                    * {_C.format(col='l_discount')}) AS DOUBLE)/10000.0
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND round(l_discount*100) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the pushdown showcase.

    Scale: every predicate (shipdate range, quantity) reaches the parquet
    scan as a PushedFilter, so row groups outside the year are skipped at
    the footer; only 3 columns are read (ReadSchema pruning). The single
    global sum exchanges exactly one partial row per map task — the plan
    is scan-bound at any scale, which is the point of Q6. The discount
    band compares in cents (integers) to avoid double-literal ambiguity.
    """
    li = table(spark, sf_dir, "lineitem")
    dc = cents("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_quantity") < 24)
        )
        .filter(dc.between(5, 7))
        .agg(
            (
                F.sum(cents("l_extendedprice") * dc).cast("double") / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join-then-conditional-count — how many
    urgent/high-priority orders sit behind late shipments, by line status.

    Adaptation: no l_shipmode/commitdate/receiptdate in the schema, so
    "late" := shipped more than 90 days after the order date and the
    grouping key is l_linestatus.

    Scale: the shipdate year-range prunes the fact at the scan; the
    cross-table predicate (shipdate vs orderdate+90d) evaluates after the
    orderkey equi-join — Catalyst keeps the hash join and applies it as a
    post-join filter, never a theta join. Priority classification is a
    codegen CASE, aggregated map-side to |linestatus| groups.

    Layout seam (round 12): both fact reads pass ``prefer_bucketed_on``
    WITHOUT ensuring the layout — the opportunistic half of the r11
    verdict's "prefer the bucketed layout when one exists" contract. In
    a session where any orderkey consumer (q18) built the full-column
    twins, this query's join goes exchange-free for free (filters and
    column pruning still push into the twin's parquet scan); in a fresh
    session it reads plain parquet, same rows either way (pinned).
    """
    li = table(spark, sf_dir, "lineitem", prefer_bucketed_on="l_orderkey").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders", prefer_bucketed_on="o_orderkey")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey,
             SUM({_C.format(col='l_extendedprice')}
                 * (100 - {_C.format(col='l_discount')})) AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(rev_cents AS DOUBLE)/10000.0 AS total_revenue
    FROM revenue
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_cents = (SELECT MAX(rev_cents) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + scalar-MAX subquery selecting the
    top revenue supplier(s) for a quarter.

    Scale: the revenue view is one fact aggregation (|suppliers| rows
    after map-side combine); its max folds in as an empty-partition
    window over the AGGREGATED view — one extra exchange of
    |suppliers| (dimension-bounded) slim rows, and the fact is scanned
    exactly ONCE. The separate-scalar-subquery form (agg + broadcast
    join back) re-scans the fact: Spark's exchange reuse does not
    canonicalize across the two aggregation subtrees
    (tests/test_tpch2.py pins the single-scan property). Equality on
    exact long cents means ties surface as multiple rows
    deterministically, not float-fuzzily.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(cents("l_extendedprice") * one_minus_cents("l_discount")).alias(
            "rev_cents"
        )
    )
    return (
        revenue.withColumn("max_cents", F.max("rev_cents").over(Window.partitionBy()))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents").cast("double") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "neardup_graph_triangles",
    oracle="""
    WITH {JAC},
    edges AS (SELECT doc_a AS u, doc_b AS v FROM jac_edges),
    deg AS (
      SELECT s, COUNT(*) AS d
      FROM (SELECT u AS s FROM edges UNION ALL SELECT v AS s FROM edges)
      GROUP BY s
    ),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS dst
      FROM edges e JOIN deg du ON e.u = du.s JOIN deg dv ON e.v = dv.s
    ),
    wedges AS (
      SELECT LEAST(o1.dst, o2.dst) AS x, GREATEST(o1.dst, o2.dst) AS y
      FROM oriented o1 JOIN oriented o2
        ON o1.src = o2.src AND o1.dst < o2.dst
    ),
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM wedges w JOIN edges e ON w.x = e.u AND w.y = e.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COALESCE(SUM(d*(d-1)//2), 0) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(n_tri AS BIGINT) FROM tri) AS n_triangles,
           CASE WHEN (SELECT SUM(d*(d-1)//2) FROM deg) > 0
                THEN 3.0 * (SELECT n_tri FROM tri)
                     / (SELECT SUM(d*(d-1)//2) FROM deg)
           END AS global_clustering
    """.replace("{JAC}", _NEARDUP_JAC_CTES),
)
def neardup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    near-duplicate graph (3-gram Jaccard >= 0.6 pairs), via DEGREE-ORDERED
    orientation — the technique that makes triangle enumeration survive
    skew at scale.

    Near-dup EDGES say pairs; triangles say how clique-like the dup
    groups are — a high clustering coefficient validates treating
    components (dedup_clusters) as interchangeable-duplicate sets, a low
    one flags chained false positives (A~B~C with A!~C). The naive wedge
    join keys on the shared vertex, so a degree-d hub generates d^2 wedge
    rows; orienting every edge from its lower-(degree, id) endpoint caps
    every vertex's OUT-degree at O(sqrt E), bounding wedges at
    sum(outdeg^2) however skewed raw degrees are, and each triangle is
    generated exactly once (it has exactly one vertex with two out-edges
    in this orientation — no post-dedup pass).

    Plan: edge list = the cached Jaccard pair artifact (zero extra scans
    in a sweep) -> degree agg -> orientation (two joins on vertex id) ->
    wedge self-join on src -> closing-edge join -> scalar aggregates
    assembled by single-row cross joins. Nothing collects; every join
    keys on vertex ids. The co-supplier graph was rejected as substrate:
    the synthetic fact tables make it complete (clustering 1.0) at small
    SFs and O(n^3)-wedge-dense at sf0.1 — triangle analytics belong on
    naturally sparse similarity graphs.
    """
    from imdbmapreduce_spark.operators.dedup import neardup_ngram_jaccard

    edges = neardup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # deg feeds four branches (orientation ×2, n_vertices, n_wedges) and
    # oriented feeds both sides of the wedge self-join; without a
    # materialization each branch re-runs the upstream shuffle. Both are
    # o(graph) rows — vertices and oriented edges — so checkpointing is
    # bounded (the price_quartiles multi-branch pattern).
    deg = (
        edges.select(F.col("u").alias("s"))
        .unionAll(edges.select(F.col("v").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(stable_checkpoint)
    )
    du = deg.select(F.col("s").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("s").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .transform(stable_checkpoint)
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2, (F.col("o1.src") == F.col("o2.src")) & (F.col("o1.dst") < F.col("o2.dst"))
    ).select(
        F.least("o1.dst", "o2.dst").alias("u"), F.greatest("o1.dst", "o2.dst").alias("v")
    )
    n_tri = wedges.join(edges, ["u", "v"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    n_vertices = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.agg(
        F.coalesce(F.sum(F.col("d") * (F.col("d") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("n_wedges")
    )
    return (
        n_vertices.join(n_edges)
        .join(n_wedges)
        .join(n_tri)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            ).alias("global_clustering"),
        )
    )


# Interval-bucket width for the scalable non-equi join below: ~the typical
# band width, so a band expands into a handful of buckets and a fact row
# joins at most a couple of candidate bands.
_BAND_BUCKET_W = 1_000_000


@query(
    "price_band_bucketed",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
    )
    SELECT b.band,
           COUNT(*) AS n_lines,
           CAST(SUM({_C.format(col='l.l_extendedprice')}) AS DOUBLE)/100.0 AS total_price
    FROM lineitem l
    JOIN bands b
      ON {_C.format(col='l.l_extendedprice')} >= b.lo
     AND {_C.format(col='l.l_extendedprice')} < b.hi
    GROUP BY 1
    """,
)
def price_band_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH for the non-equi range join — same answer as
    ``price_band_assignment``, same oracle, different physical plan:
    interval bucketing turns the theta join into a hash EQUI-join.

    ``price_band_assignment`` is broadcast-nested-loop, correct only
    while the band table is bounded; a growing right side (per-customer
    rate cards, per-day tariffs) would force a cartesian product. Here
    each band explodes into the fixed-width buckets it covers
    (``sequence(lo div W, (hi-1) div W)``) and each fact row computes its
    bucket (``pc div W``); the join is then a plain equi-join on the
    bucket id with the exact range predicate re-applied as a residual
    filter. Rows per fact = bands covering its bucket (~1-2 with W near
    the band width) — this is the MapReduce theta-join recipe
    (1-Bucket-Theta specialization for interval containment) and what
    engines' range-join optimizations do under the hood.

    Scale: both sides shuffle (or broadcast, AQE's call) on a UNIFORM
    integer key whose cardinality is domain/W — no nested loop anywhere.
    W is the one knob: too small explodes wide bands into many buckets,
    too large makes each bucket carry many candidate bands; set it near
    the median band width. Residual filtering is codegen.
    """
    li = table(spark, sf_dir, "lineitem")
    bands = li.sparkSession.createDataFrame(_BANDS, "band string, lo long, hi long")
    w = F.lit(_BAND_BUCKET_W)
    expanded = bands.select(
        "band",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                (F.col("lo") / w).cast("long"),
                ((F.col("hi") - 1) / w).cast("long"),
            )
        ).alias("bkt"),
    )
    fact = li.select(cents("l_extendedprice").alias("pc")).withColumn(
        "bkt", (F.col("pc") / w).cast("long")
    )
    return (
        fact.join(expanded, "bkt")
        .filter((F.col("pc") >= F.col("lo")) & (F.col("pc") < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum("pc").cast("double") / 100.0).alias("total_price"),
        )
    )


@query(
    "neardup_cluster_keepers",
    oracle="""
    WITH RECURSIVE {JAC},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_edges
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM jac_edges
    ), walk(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.r
    ), assign AS (
      SELECT node AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY node
    ), qual AS (
      SELECT doc_id, len(toks) AS n_tokens,
             (len(toks) >= 20 AND len(list_distinct(toks)) * 4 >= len(toks))
               AS is_quality
      FROM (SELECT doc_id, t AS toks FROM toks) q
      WHERE len(toks) > 0
    ), scored AS (
      SELECT a.cluster_id, a.doc_id,
             COALESCE(q.n_tokens, 0) AS n_tokens,
             COALESCE(q.is_quality, FALSE) AS is_quality
      FROM assign a LEFT JOIN qual q ON a.doc_id = q.doc_id
    )
    SELECT g.cluster_id, g.n_members, g.n_quality_members, k.keep_id
    FROM (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(CASE WHEN is_quality THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_members
      FROM scored GROUP BY cluster_id
    ) g
    JOIN (
      SELECT cluster_id, doc_id AS keep_id
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY cluster_id
              ORDER BY is_quality DESC, n_tokens DESC, doc_id ASC) AS rn
            FROM scored)
      WHERE rn = 1
    ) k ON g.cluster_id = k.cluster_id
    """.replace("{JAC}", _NEARDUP_JAC_CTES),
)
def neardup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation keeper selection: for every near-dup cluster, keep the
    BEST member — quality gate first, then token count, then lowest id —
    not merely the lowest id. The near-dup analog of dedup_exact's
    min-id policy, composing three registered artifacts (Jaccard pairs →
    components → quality scores) into the row a curation pipeline
    actually writes out.

    Plan: cluster assignment (cached pair artifact + component loop) left-
    joins quality scores, then ONE struct arg-max per cluster — the same
    single-agg latest/best-record pattern as events_first_touch, no
    ranking window, no per-cluster sort. Docs whose token stream is empty
    (unscorable) stay eligible as keepers of their singleton clusters via
    the left join + coalesce, so every document is accounted for.

    Scale: one shuffle keyed on cluster_id (cardinality ~ n_docs); the
    argmax struct is map-side combinable. Giant clusters are the skew
    case — bounded here by near-dup semantics (a cluster is a dup
    group), and AQE's skew split applies since nothing downstream needs
    the cluster key's distribution.
    """
    from imdbmapreduce_spark.operators.dedup import dedup_clusters
    from imdbmapreduce_spark.operators.text import doc_quality

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    qual = doc_quality(spark, sf_dir).select("doc_id", "n_tokens", "is_quality")
    scored = clusters.join(qual, "doc_id", "left").select(
        "cluster_id",
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("is_quality", F.lit(False)).alias("is_quality"),
    )
    best = F.max(
        F.struct(
            F.col("is_quality").cast("int").alias("q"),
            F.col("n_tokens").alias("t"),
            (-F.col("doc_id")).alias("negid"),
        )
    )
    return scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("is_quality").cast("int")).cast("long").alias("n_quality_members"),
        (-best.getField("negid")).alias("keep_id"),
    )


@query(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(GROUPING(l_returnflag) AS BIGINT) * 2
        + CAST(GROUPING(l_linestatus) AS BIGINT) AS gid,
      CAST(SUM({_C.format(col='l_extendedprice')}) AS DOUBLE)/100.0 AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the grouping family
    next to ROLLUP (`rollup_revenue`) and CUBE (`cube_order_stats`):
    arbitrary, non-hierarchical set lists, here the two single-column
    marginals plus the grand total (a shape neither rollup nor cube
    produces without waste). GROUPING() disambiguates real NULL keys
    from the "aggregated-away" NULL — surfaced as the standard packed
    grouping id.

    Scale: one scan; Expand replicates rows ×|sets| before the partial
    agg, and the combine collapses to |sets|·|groups| slim rows on the
    wire — same exchange discipline as rollup/cube. At wide set lists
    the Expand factor is the knob to watch; Spark shares one Expand for
    all sets rather than one scan per set (the UNION ALL rewrite a
    naive engine does).
    """
    li = table(spark, sf_dir, "lineitem")
    gid = (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast("long")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            gid.alias("gid"),
            cents_sum("l_extendedprice", "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT check_name, n_violations FROM (
      SELECT 1 AS ord, 'orders_orphan_custkey' AS check_name,
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS n_violations
      UNION ALL
      SELECT 2, 'lineitem_orphan_orderkey',
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 3, 'lineitem_orphan_suppkey',
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 4, 'lineitem_orphan_partkey',
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 5, 'customer_dup_custkey',
             (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
      UNION ALL
      SELECT 6, 'lineitem_nonpositive_quantity',
             (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
      UNION ALL
      SELECT 7, 'orders_nonpositive_totalprice',
             (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
    ) ORDER BY ord
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation suite — the dbt-test / Deequ-style audit a
    pipeline runs before publishing a snapshot: foreign-key orphans
    (anti-joins), key uniqueness (count vs distinct), and domain checks
    (non-positive measures), one row per check so the output is a
    machine-checkable quality report (all-zeros on healthy data; any
    non-zero names the broken constraint).

    Plan: ONE lazy union of single-row aggregates — each FK check is a
    LEFT ANTI join from fact to dimension reduced to a count (dimensions
    broadcast when small; at warehouse scale the anti-join keys on the
    FK with the same shuffle the production join would use), uniqueness
    is count-minus-countDistinct in one agg, and domain checks are
    conditional sums. Nothing collects on the driver, so Spark schedules
    the independent branches concurrently inside one job instead of
    nine sequential actions.

    Scale: at 100 TB each branch remains one scan (+ one broadcast/
    shuffle for FK checks); fusing same-table branches into one shared
    scan with conditional sums is the further refinement when the scan
    dominates.
    """
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part")

    def one(name: str, n: F.Column, src: DataFrame) -> DataFrame:
        return src.agg(
            F.lit(name).alias("check_name"), n.cast("long").alias("n_violations")
        )

    def orphans(name: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str) -> DataFrame:
        return one(
            name,
            F.count(F.lit(1)),
            fact.select(F.col(fk).alias("k")).join(
                dim.select(F.col(pk).alias("k")), "k", "left_anti"
            ),
        )

    checks = [
        orphans("orders_orphan_custkey", orders, "o_custkey", customer, "c_custkey"),
        orphans("lineitem_orphan_orderkey", lineitem, "l_orderkey", orders, "o_orderkey"),
        orphans("lineitem_orphan_suppkey", lineitem, "l_suppkey", supplier, "s_suppkey"),
        orphans("lineitem_orphan_partkey", lineitem, "l_partkey", part, "p_partkey"),
        one(
            "customer_dup_custkey",
            F.count(F.lit(1)) - F.countDistinct("c_custkey"),
            customer,
        ),
        one(
            "lineitem_nonpositive_quantity",
            F.coalesce(F.sum((F.col("l_quantity") <= 0).cast("long")), F.lit(0)),
            lineitem,
        ),
        one(
            "orders_nonpositive_totalprice",
            F.coalesce(F.sum((F.col("o_totalprice") <= 0).cast("long")), F.lit(0)),
            orders,
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@query(
    "part_price_size_skyline",
    oracle="""
    SELECT p.p_partkey,
           CAST(p.p_retailprice AS DOUBLE) AS price,
           CAST(p.p_size AS BIGINT) AS size_v
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
         OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size)
    )
    """,
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: parts not dominated on
    (minimize p_retailprice, maximize p_size) — the classic
    multi-criteria shortlist ("no part is both cheaper and at least as
    large"). The textbook definition is a quadratic NOT EXISTS
    self-join; the oracle keeps that naive form as ground truth while
    the Spark plan uses the 2-D sort-scan identity: a part is dominated
    iff (a) some strictly-cheaper part has size >= its size — a running
    max over prices below its own — or (b) a same-price part has a
    strictly larger size — the per-price group max. Both are O(n log n)
    aggregates/windows, no self-join at all.

    Determinism: dominance compares exact DECIMAL prices and integer
    sizes (the money-in-DECIMAL rule; the DOUBLE cast happens only at
    projection). Equal-(price, size) duplicates are mutually
    non-dominating and survive together.

    Scale: one |distinct price|-sized aggregate, one window over that
    DOMAIN-BOUNDED table (TPC-H prices: ~100k distinct values at any
    SF, so the global window ranks a bounded frame — the
    repo's global-window rule), and one broadcast-join of the
    per-price dominance thresholds back to parts. The naive self-join
    the oracle runs would be |part|² at scale; this plan never forms a
    pair.
    """
    parts = table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_price = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    thresholds = per_price.withColumn("prev_mx", F.max("mx").over(w))
    joined = parts.join(F.broadcast(thresholds), "p_retailprice")
    dominated = (
        F.col("prev_mx").isNotNull() & (F.col("prev_mx") >= F.col("p_size"))
    ) | (F.col("mx") > F.col("p_size"))
    return joined.filter(~dominated).select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("long").alias("size_v"),
    )


# --- classical seasonal decomposition (monthly revenue) ---------------------

_SEAS_PPM = 1_000_000  # ratio quanta (parts-per-million)


@query(
    "orders_seasonal_decomposition",
    oracle=f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), w AS (
      SELECT mon, rev,
        SUM(rev)  OVER (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS s1,
        COUNT(*)  OVER (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS c1,
        SUM(rev)  OVER (ORDER BY mon ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS s2,
        COUNT(*)  OVER (ORDER BY mon ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS c2
      FROM m
    ), r AS (
      SELECT month(mon) AS m,
             (rev * 24 * {_SEAS_PPM}) // (s1 + s2) AS ratio_ppm
      FROM w WHERE c1 = 12 AND c2 = 12
    )
    SELECT CAST(m AS BIGINT) AS month_of_year,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS seasonal_index_ppm
    FROM r GROUP BY 1
    """,
)
def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal decomposition over monthly order
    revenue: centered 12-month moving-average trend (the textbook CMA-12
    — the average of the two off-center MA-12 windows, so each month is
    compared against a full year centered on it), per-month
    detrended ratio, and the seasonal INDEX per calendar month (mean
    ratio, in exact parts-per-million) — the series-decomposition member
    of the time-series vertical beside trend OLS, CUSUM and
    stationarity.

    Determinism contract: revenue in exact long cents; the only
    divisions are integer (truncating on positives == floor) at 1e-6
    quanta, spelled ``DIV``/``//`` identically in both engines — no
    double accumulates anywhere. Bound: rev*24e6 needs rev < 3.8e11
    cents/month (~$3.8B) — seven orders of magnitude above this fixture;
    rescale the quanta before a corpus ever approaches it.

    Scale shape: ONE data-sized stage (the month groupBy — a partial/
    final agg to |months| rows); every window after it runs on the
    bounded monthly frame (80 rows over TPC-H's 7-year calendar at ANY
    scale factor — bounded by the calendar, not the data). Incomplete
    edge windows are excluded exactly (both window counts = 12), not
    padded.
    """
    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mon"))
        .agg(F.sum(cents("o_totalprice")).alias("rev"))
    )
    w1 = Window.orderBy("mon").rowsBetween(-6, 5)
    w2 = Window.orderBy("mon").rowsBetween(-5, 6)
    sized = monthly.select(
        "mon",
        "rev",
        F.sum("rev").over(w1).alias("s1"),
        F.count(F.lit(1)).over(w1).alias("c1"),
        F.sum("rev").over(w2).alias("s2"),
        F.count(F.lit(1)).over(w2).alias("c2"),
    )
    ratios = sized.filter((F.col("c1") == 12) & (F.col("c2") == 12)).select(
        F.month("mon").cast("long").alias("month_of_year"),
        F.expr(f"(rev * 24 * {_SEAS_PPM}) DIV (s1 + s2)").alias("ratio_ppm"),
    )
    return ratios.groupBy("month_of_year").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.expr("CAST(SUM(ratio_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "seasonal_index_ppm"
        ),
    )


# --- market-basket co-occurrence (association rules) ------------------------

_MB_PPM = 1_000_000


@query(
    "order_basket_lift",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_type AS t
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
      SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM b
    ), supp AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS s FROM b GROUP BY 1
    ), ab AS (
      SELECT a.t AS type_a, x.t AS type_b, CAST(COUNT(*) AS BIGINT) AS supp_ab
      FROM b a JOIN b x ON a.o = x.o AND a.t < x.t
      GROUP BY 1, 2
    )
    SELECT ab.type_a, ab.type_b, n.n_orders,
           sa.s AS supp_a, sb.s AS supp_b, ab.supp_ab,
           CAST(ab.supp_ab * n.n_orders * {_MB_PPM} // (sa.s * sb.s) AS BIGINT)
             AS lift_ppm,
           CAST(ab.supp_ab * {_MB_PPM} // sa.s AS BIGINT) AS confidence_ppm
    FROM ab
    JOIN supp sa ON ab.type_a = sa.t
    JOIN supp sb ON ab.type_b = sb.t
    CROSS JOIN n
    """,
)
def order_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    pair of part types co-purchased in an order, the support, the
    confidence of type_a ⇒ type_b, and the LIFT (observed co-occurrence
    over the independence expectation) — the classic affinity analysis
    every retail/recommendation stack runs, absent until now from the
    relational surface. Lift > 1e6 ppm = the pair attracts; < 1e6 =
    substitutes.

    All ratios are integer ppm by truncating division over exact counts
    — no float crosses engines. (supp_ab · n_orders · 1e6 needs
    supp·n < 9.2e12 — five orders of magnitude above this fixture;
    quantize down before a corpus approaches it.)

    Scale shape: baskets form with ONE order-keyed shuffle (collect_set
    dedupes types inside the aggregate); pair generation explodes
    map-side from each basket's sorted type array, so fan-out per order
    is C(items, 2) with items bounded by lines-per-order (7 in TPC-H) —
    never a cross join over types, and no self-join at any scale;
    supports broadcast back onto the pair aggregate (|types|-row build
    sides). The A-priori cascade to 3-itemsets is the same explode
    shape seeded from these pairs.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    # r13 (guide §2.4, the adamic_adar_parts shape): ONE groupBy(o)
    # collects each basket's distinct types as a sorted array —
    # collect_set dedupes IN the aggregate, so the separate
    # distinct-(o, t) exchange disappears — and the i<j pairs explode
    # map-side from that array (posexplode + slice; per-basket fan-out
    # C(items, 2), items bounded by lines-per-order). Removes the
    # basket self-join and the distinct exchange; the driver-blocking
    # n_orders count folds into the plan as a broadcast 1-row aggregate
    # (plans/r13/order_basket_lift_{before,after}.txt). The basket
    # frame (|orders| rows, ≤|lines| array cells) is checkpointed once
    # for its three consumers (pairs, supports, n_orders).
    baskets = stable_checkpoint(
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("p_type")).alias("ts"))
    )
    n = F.broadcast(baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders")))
    supp = (
        baskets.select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    ab = (
        baskets.select(F.posexplode("ts").alias("i", "type_a"), F.col("ts"))
        .select(
            "type_a",
            F.explode(F.slice("ts", F.col("i") + F.lit(2), F.size("ts"))).alias(
                "type_b"
            ),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
    )
    sa = supp.select(F.col("t").alias("type_a"), F.col("s").alias("supp_a"))
    sb = supp.select(F.col("t").alias("type_b"), F.col("s").alias("supp_b"))
    return (
        ab.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(n)
        .select(
            "type_a",
            "type_b",
            "n_orders",
            "supp_a",
            "supp_b",
            "supp_ab",
            F.expr(
                f"CAST(supp_ab * n_orders * {_MB_PPM} DIV (supp_a * supp_b)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
            F.expr(f"CAST(supp_ab * {_MB_PPM} DIV supp_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
        )
    )
