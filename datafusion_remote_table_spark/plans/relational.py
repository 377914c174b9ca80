"""Relational query surface (SURVEY.md §2.B).

These are the queries a user of the reference runs through DataFusion on
top of the remote provider — here expressed directly against Catalyst so
pushdown/pruning/broadcast come free. Each has a DuckDB oracle.

Scale notes are per-query; the common posture: filters sit directly on
the parquet scan (PushedFilters), dimension joins are broadcast, fact
joins shuffle on their natural keys and AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import staging
from ..session import load_tables, local_frame
from ..staging import stage
from . import register

# Money/quantity columns are doubles in the source; summing doubles is
# order-dependent, so every SUM casts to decimal first (exact, associative)
# and casts the final value back to double. DuckDB oracles do the same.
DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    dfs = load_tables(spark, sf_dir, tuple(names))
    return [dfs[n] for n in names]


# --------------------------------------------------------------------------
# Distributed exact global rank (the RangePartitioner two-pass), used by
# the entity-grain census queries (ABC classification, Gini, RFM) whose
# naive spelling is a single ordered window over ALL parts/customers —
# milliseconds at sf0.1, but one task serializing a 20B-row dimension at
# 100TB. The classic fix (TeraSort / Spark's own RangePartitioner):
#   1. census persisted; n = count()  (one scalar job)
#   2. deterministic md5 sample sized n_buckets*64 rows MAX regardless of
#      n (adaptive fraction — the collect is bounded control-plane)
#   3. driver sorts the sample, picks n_buckets-1 composite cut tuples
#      (key, uid) — uid is a unique tie-break so ranges respect the
#      total order even through duplicate keys
#   4. map-side bucket assignment: a 31-term CASE chain counting cuts
#      that precede the row (no join, no shuffle)
#   5. per-bucket counts (+ exact DECIMAL sums) collected (<= n_buckets
#      rows) -> cumulative offsets inlined as literals
#   6. ROW_NUMBER / running SUM windows PARTITIONED BY bucket + offset
# Ranks are exact (buckets are order-consistent ranges); DECIMAL sums are
# associative so offset + local running sum is bit-identical to the
# single-partition spelling. DuckDB oracles keep the plain window SQL.
_RANK_STAGE_CACHE = staging.REGISTRY  # perfbench clears the stagings through it


def _exact_rank_stage(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    census: DataFrame,
    key: str,
    uid: str,
    *,
    desc: bool,
    sum_col: str | None = None,
    n_buckets: int = 32,
):
    """Return (ranked_df, n, total_sum): census columns plus `_rank`
    (exact global BIGINT rank by key {DESC|ASC}, uid ASC) and, when
    ``sum_col`` is given, `_cum` (exact DECIMAL running sum in rank
    order). No unpartitioned window anywhere in the plan.

    Contract: ``key`` must be non-NULL (engines disagree on NULL
    ordering and the cut comparisons would go NULL) — COALESCE at the
    census, as the callers do."""
    from decimal import Decimal
    from functools import reduce
    from operator import add

    from pyspark.sql.window import Window

    def _cut_le_row(ck_, cu_):  # cut precedes-or-equals row in sort order
        k, u = F.col(key), F.col(uid)
        if desc:
            return (k < F.lit(ck_)) | ((k == F.lit(ck_)) & (u >= F.lit(cu_)))
        return (k > F.lit(ck_)) | ((k == F.lit(ck_)) & (u >= F.lit(cu_)))

    def build():
        cen = stage(spark, sf_dir, f"{prefix}_census", lambda: census, "persist").frame
        n = cen.count()
        target = n_buckets * 64
        frac = min(1.0, target / max(n, 1))
        thresh = int(frac * 0xFFFFFFFF)
        hsh = F.conv(F.substring(F.md5(F.col(uid).cast("string")), 1, 8), 16, 10).cast("bigint")
        sample = [
            (r[0], r[1])
            for r in cen.select(key, uid).where(hsh <= F.lit(thresh)).collect()
        ]
        # stable two-pass sort = (key DESC|ASC, uid ASC)
        sample.sort(key=lambda t: t[1])
        sample.sort(key=lambda t: t[0], reverse=desc)
        cuts: list = []
        if sample:
            for j in range(1, n_buckets):
                c = sample[j * len(sample) // n_buckets]
                if not cuts or cuts[-1] != c:
                    cuts.append(c)
        bkt = (
            reduce(add, [F.when(_cut_le_row(ck_, cu_), 1).otherwise(0) for ck_, cu_ in cuts])
            if cuts
            else F.lit(0)
        ).cast("int")
        return cen.withColumn("_bkt", bkt)

    bucketed = stage(spark, sf_dir, prefix, build, "persist").frame

    aggs = [F.count(F.lit(1)).alias("_c")]
    if sum_col is not None:
        aggs.append(F.sum(F.col(sum_col)).alias("_s"))
    agg_df = bucketed.groupBy("_bkt").agg(*aggs)
    # SUM(decimal(p,s)) -> decimal(min(38,p+10),s); offset literals must
    # carry the SAME type (F.lit(Decimal) would infer DECIMAL(38,18))
    sum_dtype = agg_df.schema["_s"].dataType.simpleString() if sum_col is not None else None
    parts = sorted(agg_df.collect(), key=lambda r: r["_bkt"])
    off_cnt: dict[int, int] = {}
    off_sum: dict[int, Decimal] = {}
    run_c, run_s = 0, Decimal(0)
    for r in parts:
        off_cnt[r["_bkt"]] = run_c
        run_c += r["_c"]
        if sum_col is not None:
            off_sum[r["_bkt"]] = run_s
            run_s += r["_s"] if r["_s"] is not None else Decimal(0)
    n = run_c
    total_sum = run_s if sum_col is not None else None

    def _case_chain(mapping, zero, dtype=None):
        def _l(v):
            return F.lit(v).cast(dtype) if dtype else F.lit(v)

        expr = _l(zero)
        for b, v in mapping.items():
            expr = F.when(F.col("_bkt") == b, _l(v)).otherwise(expr)
        return expr

    order = [F.col(key).desc() if desc else F.col(key).asc(), F.col(uid).asc()]
    w = Window.partitionBy("_bkt").orderBy(*order)
    out = bucketed.withColumn(
        "_rank", (_case_chain(off_cnt, 0) + F.row_number().over(w)).cast("bigint")
    )
    if sum_col is not None:
        local = F.sum(F.col(sum_col)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("_cum", _case_chain(off_sum, Decimal(0)) + local)
    return out, n, total_sum


# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape (flagship).
# Scale: single scan + one shuffle on a 6-value grouping key; partial aggs
# map-side; the date filter reaches the parquet scan.
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q3_shipping_priority — join customer⋈orders⋈lineitem, top 10 by revenue.
# Scale: customer filter first (broadcastable at dim scale; at 100TB the
# orders⋈lineitem join shuffles on o_orderkey which is uniform), top-k via
# ORDER+LIMIT which Spark executes as TakeOrdered (no global sort).
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q5_local_supplier — 6-way join, region-filtered, customer and supplier in
# the same nation. Scale: region/nation broadcast (25 rows at any SF);
# the fact-side joins shuffle once on orderkey then once on (suppkey,
# nationkey); AQE reorders/skew-splits at runtime.
@register(
    "q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        customer.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# q6_forecast_revenue — pushdown showcase: all three predicates reach the
# parquet scan; single partial+final agg, no join, no wide shuffle.
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q10_returned_items — returned-item revenue per customer, top 20.
# Scale: nation broadcast; orders⋈lineitem shuffles on orderkey; the
# customer join shuffles on custkey; TakeOrdered top-k.
@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, nation = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        customer.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(lineitem.filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# join_broadcast — supplier rollup through explicitly broadcast dims.
@register(
    "join_broadcast",
    oracle="""
    SELECT r.r_name,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, nation, region = _t(spark, sf_dir, "supplier", "nation", "region")
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast(DEC)).cast("double").alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# agg_distinct — exact distinct aggregation (Spark expands to a two-stage
# shuffle with partial distinct; at 100TB prefer approx_count_distinct for
# dashboards — kept exact here for oracle parity).
@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# window_topn_per_group — top 3 orders by totalprice per priority class.
# Scale: one shuffle on the partition key; rank pruning happens before the
# final projection so only 3 rows per group survive the window stage.
@register(
    "window_topn_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(rn AS INT) AS rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# window_running_sum — running per-user revenue over event time. The frame
# is a total order (ts, event_id) so the float accumulation sequence is
# identical in both engines; operands still go through decimal for safety.
@register(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events
    WHERE user_id < 50
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    (events,) = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.filter(F.col("user_id") < 50)
        .select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("running_value"),
        )
    )


# --------------------------------------------------------------------------
# sort_limit — global top-k; Spark plans TakeOrderedAndProject (per-partition
# heap + driver merge of k rows), never a full global sort.
@register(
    "sort_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 50
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.select("l_orderkey", "l_linenumber", F.col("l_extendedprice").cast("double").alias("l_extendedprice"))
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(50)
    )


# --------------------------------------------------------------------------
# union_set_ops — INTERSECT / EXCEPT (distinct semantics) tagged and unioned.
@register(
    "union_set_ops",
    oracle="""
    SELECT 'active' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey AS c_custkey FROM orders
    )
    UNION ALL
    SELECT 'dormant' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders
    )
    """,
)
def union_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ordered = orders.select(F.col("o_custkey").alias("c_custkey"))
    active = building.intersect(ordered).select(F.lit("active").alias("tag"), "c_custkey")
    dormant = building.exceptAll(ordered.distinct()).distinct().select(F.lit("dormant").alias("tag"), "c_custkey")
    return active.unionAll(dormant)


# --------------------------------------------------------------------------
# subquery_exists — EXISTS correlated subquery (Catalyst rewrites to a left
# semi join shuffling on custkey; broadcastable when the filtered side fits).
@register(
    "subquery_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        """
    )


# --------------------------------------------------------------------------
# case_expr_agg — conditional aggregation (CASE inside SUM), one scan.
@register(
    "case_expr_agg",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CASE WHEN p_size < 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
           CAST(SUM(CASE WHEN p_size >= 15 AND p_size < 35 THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
           CAST(SUM(CASE WHEN p_size >= 35 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
    FROM part
    GROUP BY p_brand
    """,
)
def case_expr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.sum(F.when(F.col("p_size") < 15, 1).otherwise(0)).alias("n_small"),
        F.sum(F.when((F.col("p_size") >= 15) & (F.col("p_size") < 35), 1).otherwise(0)).alias("n_medium"),
        F.sum(F.when(F.col("p_size") >= 35, 1).otherwise(0)).alias("n_large"),
        (F.sum(F.col("p_retailprice").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# events_sessionize — gap-based sessionization (30-min inactivity) done with
# window functions: lag → new-session flag → running session index → rollup.
# Scale: one shuffle on user_id; everything after is per-partition sorted
# streaming — the batch analogue of a session window.
_SESSIONIZE_SQL = """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           {fmt_min} AS session_start,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR {gap_seconds} > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
"""


@register(
    "events_sessionize",
    oracle=_SESSIONIZE_SQL.format(
        fmt_min="strftime(MIN(ts), '%Y-%m-%d %H:%M:%S')",
        gap_seconds="date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)",
    ),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _SESSIONIZE_SQL.format(
            fmt_min="date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss')",
            gap_seconds=(
                "unix_timestamp(ts) - unix_timestamp(lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id))"
            ),
        )
    )


# --------------------------------------------------------------------------
# events_tumbling_window — 1-hour tumbling windows per event type (batch
# version; the streaming twin lives in streaming/).
@register(
    "events_tumbling_window",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q4_order_priority — orders with at least one late lineitem, counted per
# priority (TPC-H Q4 shape: EXISTS → left-semi join on orderkey).
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# q14_promo_revenue — lineitem ⋈ part with conditional aggregation
# (TPC-H Q14 shape); part side shuffles on partkey, broadcastable at dim SF.
@register(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 ELSE 0 END) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    rev = price * (F.lit(1) - disc)
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q18_large_orders — customers with large-volume orders (TPC-H Q18 shape:
# agg subquery as a semi-join filter, then re-agg).
@register(
    "q18_large_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 170
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 170
        )
        GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        """
    )


# --------------------------------------------------------------------------
# agg_rollup — hierarchical totals (ROLLUP region → nation): one pass,
# grouping-set expansion handled by Catalyst.
@register(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           CASE WHEN r.r_name IS NULL THEN 'ALL' ELSE COALESCE(n.n_name, 'ALL') END AS nation_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("customer", "nation", "region"))
    return spark.sql(
        """
        SELECT COALESCE(r.r_name, 'ALL') AS region_name,
               CASE WHEN r.r_name IS NULL THEN 'ALL' ELSE COALESCE(n.n_name, 'ALL') END AS nation_name,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP(r.r_name, n.n_name)
        """
    )


# --------------------------------------------------------------------------
# pivot_orders_by_status — pivot order status to columns per priority
# (Spark .pivot; oracle via conditional aggregation — same relation).
@register(
    "pivot_orders_by_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS status_F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS status_O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


# --------------------------------------------------------------------------
# json_extract_events — JSON path extraction from the props column
# (get_json_object stays JVM-side; no Python in the loop).
@register(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# --------------------------------------------------------------------------
# agg_percentile — exact interpolated percentiles per group (Spark
# percentile == DuckDB quantile_cont on the same sorted data).
@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
    )


# --------------------------------------------------------------------------
# date_parts_rollup — calendar rollup via date-part extraction; one scan,
# one shuffle on (year, month).
@register(
    "date_parts_rollup",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY order_year, order_month
    """,
)
def date_parts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# string_functions — substring / case / concat / trim / replace surface.
@register(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           CAST(LENGTH(p_type) AS INT) AS type_len,
           REPLACE(p_type, ' ', '_') AS type_snake,
           p_brand || '/' || p_type AS brand_type
    FROM part WHERE p_size >= 48
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_size") >= 48).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_type").alias("type_len"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


# --------------------------------------------------------------------------
# null_handling — coalesce / nullif / null-aware aggregation semantics.
@register(
    "null_handling",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(NULLIF(c_acctbal < 0, FALSE)) AS n_negative,
           CAST(SUM(CAST(COALESCE(NULLIF(c_acctbal, 0.0), 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_nonzero,
           CAST(AVG(CASE WHEN c_acctbal >= 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS frac_nonneg
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = _t(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.nullif(F.col("c_acctbal") < 0, F.lit(False))).alias("n_negative"),
        F.sum(F.coalesce(F.nullif("c_acctbal", F.lit(0.0)), F.lit(0.0)).cast(DEC))
        .cast("double")
        .alias("sum_nonzero"),
        F.avg(F.when(F.col("c_acctbal") >= 0, 1.0).otherwise(0.0)).cast("double").alias("frac_nonneg"),
    )


# --------------------------------------------------------------------------
# window_lead_lag — lead/lag navigation over event time per user.
@register(
    "window_lead_lag",
    oracle="""
    SELECT event_id, user_id, event_type,
           lag(event_type) OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           CAST(date_diff('second',
                lag(ts) OVER w, ts) AS BIGINT) AS secs_since_prev
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.filter(F.col("user_id") < 20).select(
        "event_id",
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("secs_since_prev"),
    )


# --------------------------------------------------------------------------
# asof_join_events_orders — as-of enrichment: each event picks the latest
# order (by o_orderdate) of the same key at-or-before its timestamp.
# Spark lacks ASOF JOIN; operators/asof.py expresses it as union+window
# (one shuffle, no range explosion). DuckDB's native ASOF JOIN is the
# oracle. Orders are pre-deduped to one row per (key, date) so the match
# is well-defined in both engines.
@register(
    "asof_join_events_orders",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    o3 AS (
      SELECT o2.o_custkey, o2.o_orderdate, o2.o_orderkey,
             CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
      FROM o2 JOIN orders o ON o.o_orderkey = o2.o_orderkey
    )
    SELECT e.event_id, e.user_id, o3.o_orderkey AS last_orderkey,
           o3.o_totalprice AS last_totalprice
    FROM events e
    ASOF LEFT JOIN o3 ON e.user_id = o3.o_custkey AND o3.o_orderdate <= e.ts
    WHERE e.user_id < 200
    """,
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    dfs = load_tables(spark, sf_dir, ("events", "orders"))
    events = dfs["events"].filter(F.col("user_id") < 200).select("event_id", "user_id", "ts")
    orders = dfs["orders"]
    o2 = orders.groupBy("o_custkey", "o_orderdate").agg(F.max("o_orderkey").alias("o_orderkey"))
    o3 = o2.join(
        orders.select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")),
        "o_orderkey",
    )
    # both sides need the join key under one name
    joined = asof_join(
        events.withColumn("asof_key", F.col("user_id")),
        o3.withColumnRenamed("o_custkey", "asof_key"),
        on="asof_key",
        left_ts="ts",
        right_ts="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


# --------------------------------------------------------------------------
# range_join_price_bands — interval (range) join: each lineitem lands in
# the price band whose [lo, hi) contains it. The bands side is tiny and
# broadcast, so the inequality join is a broadcast nested loop over 5
# rows — the correct plan at any scale (never a shuffled cartesian).
@register(
    "range_join_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('p00_10k', 0.0, 10000.0), ('p10_25k', 10000.0, 25000.0),
             ('p25_50k', 25000.0, 50000.0), ('p50_75k', 50000.0, 75000.0),
             ('p75k_up', 75000.0, 1e18)
    )
    SELECT b.band, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS band_revenue
    FROM lineitem l JOIN bands b
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY b.band
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    bands = local_frame(
        spark,
        [
            ("p00_10k", 0.0, 10000.0),
            ("p10_25k", 10000.0, 25000.0),
            ("p25_50k", 25000.0, 50000.0),
            ("p50_75k", 50000.0, 75000.0),
            ("p75k_up", 75000.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    return (
        lineitem.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("band_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q7_volume_shipping — revenue between two nation pairs by year (TPC-H Q7
# shape: the fact row joins BOTH a supplier nation and a customer nation).
@register(
    "q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("lineitem", "orders", "customer", "supplier", "nation"))
    return spark.sql(
        """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS ship_year,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, ship_year
        """
    )


# --------------------------------------------------------------------------
# q9_product_profit — profit by nation and year for a part family (TPC-H
# Q9 shape without partsupp). Dims broadcast; one fact-side shuffle chain.
@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%blue%'
    GROUP BY nation, order_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("lineitem", "part", "supplier", "nation", "orders"))
    return spark.sql(
        """
        SELECT n.n_name AS nation, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS order_year,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%blue%'
        GROUP BY nation, order_year
        """
    )


# --------------------------------------------------------------------------
# q17_small_quantity — correlated scalar subquery (TPC-H Q17 shape):
# revenue from orders below 40% of the part's average quantity. Catalyst
# decorrelates into an aggregate + join — no per-row subquery execution.
@register(
    "q17_small_quantity",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.4 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.4 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
          )
        """
    )


# --------------------------------------------------------------------------
# q22_sales_opportunity — scalar subquery threshold + anti join (TPC-H
# Q22 shape): wealthy customers with no recent orders, grouped by "country
# code"
# (custkey mod 10 stands in for the phone prefix).
@register(
    "q22_sales_opportunity",
    oracle="""
    SELECT CAST(c_custkey % 10 AS INT) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-06-01')
    GROUP BY cntrycode
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT CAST(c_custkey % 10 AS INT) AS cntrycode,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-06-01')
        GROUP BY cntrycode
        """
    )


# --------------------------------------------------------------------------
# q2_min_supplier — correlated MIN-equality subquery (TPC-H Q2 shape
# without partsupp): each nation's cheapest-balance supplier(s).
@register(
    "q2_min_supplier",
    oracle="""
    SELECT n.n_name, CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
    """,
)
def q2_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("supplier", "nation"))
    return spark.sql(
        """
        SELECT n.n_name, CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
               CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
                             WHERE s2.s_nationkey = s.s_nationkey)
        """
    )


# --------------------------------------------------------------------------
# skyline_parts — Pareto front of parts minimizing (p_retailprice, p_size):
# two-phase distributed skyline (operators/skyline.py); quadratic
# NOT-EXISTS dominance as the DuckDB oracle.
@register(
    "skyline_parts",
    oracle="""
    SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline

    (part,) = _t(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey", F.col("p_retailprice").cast("double").alias("p_retailprice"), "p_size"
    ).repartition(8)
    return skyline(pts, ["p_retailprice", "p_size"])


# --------------------------------------------------------------------------
# q8_market_share — TPC-H Q8 shape: NATION_5's share of ECONOMY-part
# revenue sold into ASIA, by order year. Scale: part/customer-side dims
# broadcast; the fact joins shuffle on orderkey/partkey; the share is one
# tiny final agg on (year).
@register(
    "q8_market_share",
    oracle="""
    WITH all_sales AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM all_sales GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem, orders, customer, nation, region, supplier = _t(
        spark, sf_dir, "part", "lineitem", "orders", "customer", "nation", "region", "supplier"
    )
    volume = (F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))).alias("volume")
    sales = (
        lineitem.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
                      F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey"))),
              F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA").select("r_regionkey")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("s_nk"))
        .select(F.year("o_orderdate").alias("o_year"), volume, "supp_nation")
    )
    return sales.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(F.lit(0).cast(DEC))).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# q12_late_shipping — TPC-H Q12 shape re-keyed to this schema (no
# l_shipmode/commitdate): lineitems shipped more than 90 days after the
# order date, counted into high/low priority classes. Scale: one fact⋈fact
# join on orderkey, map-side CASE, 2-row output.
@register(
    "q12_late_shipping",
    oracle="""
    SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'low' END AS priority_class,
           COUNT(*) AS n_late
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY priority_class
    """,
)
def q12_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    joined = orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    cls = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high").otherwise("low")
    return joined.groupBy(cls.alias("priority_class")).agg(F.count(F.lit(1)).alias("n_late"))


# --------------------------------------------------------------------------
# q13_customer_distribution — TPC-H Q13: orders-per-customer histogram via
# LEFT join (customers with zero orders included). Scale: one shuffle on
# custkey, then a tiny re-agg on the count.
@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# q15_top_supplier — TPC-H Q15: quarterly revenue per supplier, return the
# max-revenue supplier(s). Scale: one agg on suppkey; the MAX is a scalar
# broadcast back over the (small) per-supplier totals.
@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC)))
            .cast("double")
            .alias("total_revenue")
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# q16_supplier_count — TPC-H Q16 shape with lineitem as the part-supplier
# bridge (no partsupp table in this schema): distinct supplier count per
# (brand, type, size) for selected sizes. Scale: the distinct is a
# two-level agg on (brand,type,size,suppkey) — partials map-side.
@register(
    "q16_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    LIMIT 20
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem = _t(spark, sf_dir, "part", "lineitem")
    dims = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        lineitem.join(F.broadcast(dims), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q19_disjunctive_revenue — TPC-H Q19: OR'd brand/size/quantity predicate
# bundles. The point at scale: Catalyst extracts the common l_partkey join
# and pushes the disjunction to the scans; output is one row.
@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    j = lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(pred).agg(
        F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC)))
        .cast("double")
        .alias("revenue")
    )


# --------------------------------------------------------------------------
# q20_promo_suppliers — TPC-H Q20 shape via lineitem (no partsupp):
# suppliers who shipped over 380 units of PROMO parts during 1996. Scale:
# the HAVING agg runs on (suppkey) — tiny; the semi-join broadcasts it.
@register(
    "q20_promo_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 380
    )
    """,
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, part = _t(spark, sf_dir, "supplier", "lineitem", "part")
    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    heavy = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > 380)
        .select("l_suppkey")
    )
    return supplier.join(
        F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------------
# q21_waiting_suppliers — TPC-H Q21 shape on this schema (returnflag in
# place of receipt/commit dates): suppliers with a returned lineitem on a
# multi-supplier finished order where no OTHER supplier had a return —
# the double correlated EXISTS / NOT EXISTS, executed as semi + anti
# joins on orderkey. Scale: both probe sides are (orderkey, suppkey)
# projections; joins shuffle on orderkey, no row explosion.
@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, orders = _t(spark, sf_dir, "supplier", "lineitem", "orders")
    l1 = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = lineitem.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    l3 = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    with_other = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2_orderkey")) & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    sole_return = with_other.join(
        l3,
        (F.col("l_orderkey") == F.col("o3_orderkey")) & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        sole_return.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q11_important_stock — TPC-H Q11 shape re-keyed to this schema (no
# partsupp table): per-part inventory value from NATION_3's suppliers,
# keeping parts whose value exceeds 0.1% of the nation total. Completes
# the 22 TPC-H query shapes. Scale: supplier/nation dims broadcast, one
# shuffle on l_partkey for the agg; the total is a broadcast scalar.
@register(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(l.l_quantity AS DECIMAL(18,2))) AS value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT SUM(value) AS total FROM val)
    SELECT v.l_partkey AS p_partkey, CAST(v.value AS DOUBLE) AS part_value
    FROM val v CROSS JOIN tot t
    WHERE CAST(v.value AS DOUBLE) > CAST(t.total AS DOUBLE) * 0.001e0
    ORDER BY part_value DESC, p_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    val = (
        lineitem.join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation.filter(F.col("n_name") == "NATION_3").select("n_nationkey")),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_quantity").cast(DEC)).alias("value"))
    )
    tot = val.agg(F.sum("value").alias("total"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value").cast("double") > F.col("total").cast("double") * F.lit(0.001))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


# --------------------------------------------------------------------------
# events_funnel — ordered view→click→purchase funnel: each step's
# timestamp must follow the previous step's (MIN-after-predecessor, the
# classic funnel semantics). Scale: three keyed aggs + two joins, all
# shuffling on user_id — co-partitioned, no skew (uniform users); the
# final count is three broadcast scalars.
@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    v = events.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


# --------------------------------------------------------------------------
# retention_cohorts — daily signup cohorts × activity-day offsets: the
# standard retention triangle. Scale: one agg for first-seen, one
# distinct on (user, offset), one count — all shuffled on user_id/cohort
# keys; the output is cohort-days × offsets (tiny at any input scale).
@register(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.d0,
             CAST(date_diff('day', f.d0, CAST(date_trunc('day', e.ts) AS DATE)) AS INT) AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT strftime(d0, '%Y-%m-%d') AS cohort_day, day_offset,
           COUNT(*) AS n_users
    FROM act GROUP BY d0, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(F.min("ts").alias("t0")).select(
        "user_id", F.to_date(F.date_trunc("day", F.col("t0"))).alias("d0")
    )
    act = (
        events.join(first_seen, "user_id")
        .select(
            "user_id",
            "d0",
            F.datediff(F.to_date(F.date_trunc("day", F.col("ts"))), F.col("d0")).cast("int").alias("day_offset"),
        )
        .distinct()
    )
    return act.groupBy("d0", "day_offset").agg(F.count(F.lit(1)).alias("n_users")).select(
        F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"), "day_offset", "n_users"
    )


# --------------------------------------------------------------------------
# window_analytics — the ranking-window family in one pass: ntile
# quartiles, percent_rank, cume_dist, first/last value over per-customer
# spend. One shuffle on the (empty) partition key — a global window here,
# partitioned by market segment so the sort is per-segment, not global.
@register(
    "window_analytics",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    )
    SELECT c_mktsegment, o_custkey, total_spend,
           CAST(NTILE(4) OVER w AS INT) AS spend_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           FIRST_VALUE(o_custkey) OVER w AS top_spender
    FROM spend
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY total_spend DESC, o_custkey)
    """,
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    spend = (
        orders.join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
                    F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("total_spend").desc(), "o_custkey")
    return spend.select(
        "c_mktsegment", "o_custkey", "total_spend",
        F.ntile(4).over(w).cast("int").alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_custkey").over(w).alias("top_spender"),
    )


# --------------------------------------------------------------------------
# agg_cube — full CUBE over (order status, order year): all four grouping
# combinations in one shuffle (Catalyst expands the grouping sets
# map-side; partial aggregation still applies).
@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, CAST(EXTRACT(year FROM o_orderdate) AS INT))
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderstatus",
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_totalprice",
        )
        .cube("o_orderstatus", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# events_gap_fill_locf — hypertable-style gap fill: each user's activity
# is rolled up to an hourly series, missing hours are materialized from a
# per-user hour grid, and the value is carried forward (LOCF) across the
# gaps — the time-series regularization step every downstream
# resample/join expects. Scale: the hourly rollup aggregates on uniform
# (user, hour) keys map-side; the grid explode is per-user bounded by the
# observed span (no global calendar cross join); the gap join is
# co-keyed; LOCF is a per-user ordered window (uniform partitions, no
# global sort). First grid hour per user is always observed, so the fill
# never has leading NULLs.
@register(
    "events_gap_fill_locf",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.h, o.v
      FROM grid g LEFT JOIN hourly o ON g.user_id = o.user_id AND g.h = o.h
    )
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(CASE WHEN v IS NULL THEN 0 ELSE 1 END AS INT) AS observed,
           ROUND(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_locf
    FROM joined
    """,
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql("""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, explode(sequence(lo, hi, interval 1 hour)) AS h FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.h, o.v
      FROM grid g LEFT JOIN hourly o ON g.user_id = o.user_id AND g.h = o.h
    )
    SELECT user_id, date_format(h, 'yyyy-MM-dd HH:mm:ss') AS hour_ts,
           CAST(CASE WHEN v IS NULL THEN 0 ELSE 1 END AS INT) AS observed,
           ROUND(last_value(v, true) OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_locf
    FROM joined
    """)


# --------------------------------------------------------------------------
# events_markov_transitions — first-order event-type transition matrix:
# per-user event streams ordered by time, LAG gives each event its
# predecessor type, and the (prev, next) census normalizes to transition
# probabilities — the behavioral model behind funnel design and
# next-action prediction features. Scale: one shuffle on user_id for the
# ordered lag window (uniform key, O(1) window state), then a census on
# |types|^2 keys with map-side partials; the probability normalization
# windows over the census result (25 rows), not the events.
@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n_transitions,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p_transition
    FROM trans
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql("""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n_transitions,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p_transition
    FROM trans
    """)


# --------------------------------------------------------------------------
# events_hourly_anomaly — per-type hourly volume anomalies by z-score:
# hourly counts per event type, each type's mean/std derived from exact
# integer sufficient statistics (SUM(c), SUM(c*c) over hours — no
# float-order drift), and the top-20 |z| hours reported — the ops-style
# burst/outage detector over the event firehose. Scale: the hourly rollup
# aggregates map-side on uniform (type, hour) keys; the per-type stats
# reduce ~types*hours rows to |types|; the stats join back is a broadcast
# of |types| rows; top-20 is a TakeOrdered.
@register(
    "events_hourly_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS nh,
             CAST(SUM(c) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS DOUBLE) AS s2
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, strftime(h.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(h.c AS BIGINT) AS n_events,
           ROUND((CAST(h.c AS DOUBLE) - s1 / nh)
                 / sqrt(greatest(s2 / nh - (s1 / nh) * (s1 / nh), 0.000001e0)), 4) AS zscore
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    ORDER BY abs(ROUND((CAST(h.c AS DOUBLE) - s1 / nh)
                 / sqrt(greatest(s2 / nh - (s1 / nh) * (s1 / nh), 0.000001e0)), 4)) DESC,
             h.event_type, h.h
    LIMIT 20
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql("""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS nh,
             CAST(SUM(c) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS DOUBLE) AS s2
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, date_format(h.h, 'yyyy-MM-dd HH:mm:ss') AS hour_ts,
           CAST(h.c AS BIGINT) AS n_events,
           ROUND((CAST(h.c AS DOUBLE) - s1 / nh)
                 / sqrt(greatest(s2 / nh - (s1 / nh) * (s1 / nh), 0.000001e0)), 4) AS zscore
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    ORDER BY abs(ROUND((CAST(h.c AS DOUBLE) - s1 / nh)
                 / sqrt(greatest(s2 / nh - (s1 / nh) * (s1 / nh), 0.000001e0)), 4)) DESC,
             h.event_type, h.h
    LIMIT 20
    """)


# --------------------------------------------------------------------------
# events_top_paths — top 3-step behavioral paths: each event joined with
# its two predecessors via double LAG over the per-user ordered stream,
# then a census of (step1, step2, step3) sequences — the path-discovery
# (Sankey) report that generalizes the fixed-order funnel and the
# 1-step Markov matrix. Scale: one shuffle on user_id for the window
# (O(1) state), census on |types|^3 keys with map-side partials, top-20
# via TakeOrdered.
@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             LAG(event_type, 2) OVER w AS step1,
             LAG(event_type, 1) OVER w AS step2,
             event_type AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM seq WHERE step1 IS NOT NULL
    GROUP BY step1, step2, step3
    ORDER BY n_paths DESC, step1, step2, step3
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql("""
    WITH seq AS (
      SELECT user_id,
             LAG(event_type, 2) OVER w AS step1,
             LAG(event_type, 1) OVER w AS step2,
             event_type AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM seq WHERE step1 IS NOT NULL
    GROUP BY step1, step2, step3
    ORDER BY n_paths DESC, step1, step2, step3
    LIMIT 20
    """)


# --------------------------------------------------------------------------
# events_scd2_history — slowly-changing-dimension (type 2) history built
# from the event log: per user, consecutive runs of the same event_type
# collapse into validity intervals [valid_from, valid_to) with the usual
# open-ended current row — the warehouse shape every CDC/dim pipeline
# materializes from a change stream. Island detection: LAG marks change
# points, a running SUM numbers the segments, LEAD closes each interval
# with the next segment's start. Scale: one shuffle on user_id shared by
# all three windows (same partition key, O(1) state each); segment count
# is bounded by the number of state changes, never joined to the corpus.
@register(
    "events_scd2_history",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, event_type, ts,
             SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
      FROM seq
    ),
    segs AS (
      SELECT user_id, event_type AS state, seg,
             MIN(ts) AS seg_start, COUNT(*) AS n_events
      FROM marked GROUP BY user_id, event_type, seg
    ),
    hist AS (
      SELECT user_id, state, seg_start, n_events,
             LEAD(seg_start) OVER (PARTITION BY user_id ORDER BY seg) AS seg_end
      FROM segs
    )
    SELECT user_id, state,
           strftime(seg_start, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(seg_end, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(CASE WHEN seg_end IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM hist
    """,
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql("""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, event_type, ts,
             SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
      FROM seq
    ),
    segs AS (
      SELECT user_id, event_type AS state, seg,
             MIN(ts) AS seg_start, COUNT(*) AS n_events
      FROM marked GROUP BY user_id, event_type, seg
    ),
    hist AS (
      SELECT user_id, state, seg_start, n_events,
             LEAD(seg_start) OVER (PARTITION BY user_id ORDER BY seg) AS seg_end
      FROM segs
    )
    SELECT user_id, state,
           date_format(seg_start, 'yyyy-MM-dd HH:mm:ss') AS valid_from,
           COALESCE(date_format(seg_end, 'yyyy-MM-dd HH:mm:ss'), '9999-12-31 00:00:00') AS valid_to,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(CASE WHEN seg_end IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM hist
    """)


# --------------------------------------------------------------------------
# events_concurrency_hourly — peak-load readout: how many sessions are
# OPEN in each hour (capacity planning / connection sizing runs exactly
# this sweep-line). Sessions come from the same 30-min-gap sessionizer;
# each contributes +1 at its start hour and -1 at the hour AFTER its last
# event, and the hourly running sum of deltas is the concurrency curve.
# Scale: sessionization shuffles once on user_id; the sweep line runs
# over the HOUR-grain census (bounded cardinality — 8.8k rows/year no
# matter the corpus size), so the single ordered window at the end is
# over a frame that never grows with data. One row per hour with any
# session activity boundary.
_CONCURRENCY_SQL = """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN {gap_seconds} IS NULL OR {gap_seconds} > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    ),
    bounds AS (
      SELECT user_id, session_id,
             date_trunc('hour', MIN(ts)) AS start_hour,
             date_trunc('hour', MAX(ts)) + INTERVAL 1 HOUR AS end_hour
      FROM sess GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT start_hour AS hr, 1 AS d FROM bounds b1
      UNION ALL
      SELECT end_hour AS hr, -1 AS d FROM bounds b2
    ),
    hourly AS (
      SELECT hr, SUM(d) AS delta,
             SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_starts
      FROM deltas GROUP BY hr
    )
    SELECT {fmt_hour} AS hour,
           CAST(n_starts AS BIGINT) AS sessions_started,
           CAST(SUM(delta) OVER (ORDER BY hr
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS concurrent_sessions
    FROM hourly
"""


@register(
    "events_concurrency_hourly",
    oracle=_CONCURRENCY_SQL.format(
        gap_seconds="date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)",
        fmt_hour="strftime(hr, '%Y-%m-%d %H:%M:%S')",
    ),
)
def events_concurrency_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _CONCURRENCY_SQL.format(
            gap_seconds=(
                "unix_timestamp(ts) - unix_timestamp(lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id))"
            ),
            fmt_hour="date_format(hr, 'yyyy-MM-dd HH:mm:ss')",
        )
    )


# --------------------------------------------------------------------------
# basket_part_pairs — market-basket association rules over orders: for
# every part pair co-occurring in an order, exact support / confidence /
# lift from integer co-occurrence counts; top 20 pairs by co-occurrence.
# The frequent-itemset census behind recommendations and assortment
# planning. Scale: pair generation is ORDER-LOCAL (items per order is
# bounded ~O(10), so pairs per order are O(100) — never a corpus-wide
# cross product); the pair census shuffles on (part_a, part_b) with
# map-side partials; part counts broadcast back; top-20 is
# TakeOrderedAndProject.
_BASKET_SQL = """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    part_count AS (
      SELECT l_partkey, COUNT(*) AS n_one FROM items GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.part_a, p.part_b,
           CAST(p.n_ab AS BIGINT) AS n_both,
           ROUND(CAST(p.n_ab AS DOUBLE) / n.n, 6) AS support,
           ROUND(CAST(p.n_ab AS DOUBLE) / pa.n_one, 6) AS confidence_a_b,
           ROUND((CAST(p.n_ab AS DOUBLE) * n.n) / (pa.n_one * pb.n_one), 6) AS lift
    FROM pairs p
    CROSS JOIN n_orders n
    JOIN part_count pa ON pa.l_partkey = p.part_a
    JOIN part_count pb ON pb.l_partkey = p.part_b
    ORDER BY p.n_ab DESC, p.part_a, p.part_b
    LIMIT 20
"""


@register("basket_part_pairs", oracle=_BASKET_SQL)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_BASKET_SQL)


# --------------------------------------------------------------------------
# events_churn_features — churn-label + feature generation (the ML
# training-table builder): per user, trailing-window activity counts and
# value sums anchored at the corpus max timestamp, recency in whole
# days, and the 24-hour churn label (24h, not 7d: sf0.01 user lifetimes
# all end within 2 days of the corpus max, so a 7-day label was
# identically 0 — round-6 vacuousness audit; 17/150 users churn at the
# 24h horizon, so the label carries signal). Scale: one scalar MAX (broadcast
# literal-sized), then a single groupBy(user_id) with map-side partials
# — the canonical feature-store shape.
_CHURN_SQL = """
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events)
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.ts >= m.tmax - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT)
             AS n_events_7d,
           CAST(SUM(CASE WHEN e.ts >= m.tmax - INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT)
             AS n_events_30d,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST({recency_intdiv} AS BIGINT) AS recency_days,
           CAST(CASE WHEN MAX(e.ts) < m.tmax - INTERVAL 24 HOUR THEN 1 ELSE 0 END AS INT)
             AS churned_24h
    FROM events e CROSS JOIN mx m
    GROUP BY e.user_id, m.tmax
"""


@register(
    "events_churn_features",
    oracle=_CHURN_SQL.format(
        # integer FLOOR division: DuckDB's CAST(double AS BIGINT) rounds
        # to nearest where Spark truncates, so the day count must never
        # pass through a float
        recency_intdiv=(
            "((CAST(floor(epoch(m.tmax)) AS BIGINT)"
            " - CAST(floor(epoch(MAX(e.ts))) AS BIGINT)) // 86400)"
        ),
    ),
)
def events_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _CHURN_SQL.format(
            recency_intdiv=(
                "((CAST(unix_timestamp(m.tmax) AS BIGINT)"
                " - CAST(unix_timestamp(MAX(e.ts)) AS BIGINT)) DIV 86400)"
            ),
        )
    )


# --------------------------------------------------------------------------
# events_dau_mau — growth-analytics actives table: per day, DAU plus
# trailing-7-day (WAU) and trailing-30-day (MAU) distinct users and the
# DAU/MAU stickiness ratio. Scale: events collapse FIRST to the
# (day, user) census (one shuffle, map-side distinct partials); the
# trailing windows are a range join of that census against the DAY axis
# (bounded — 365 rows/year broadcast), so the expensive distinct-over-
# window never touches raw events.
_DAU_SQL = """
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    actives AS (
      SELECT dd.d,
             COUNT(DISTINCT CASE WHEN du.d = dd.d THEN du.user_id END) AS dau,
             COUNT(DISTINCT CASE WHEN du.d > dd.d - INTERVAL 7 DAY THEN du.user_id END) AS wau,
             COUNT(DISTINCT du.user_id) AS mau
      FROM days dd
      JOIN du ON du.d > dd.d - INTERVAL 30 DAY AND du.d <= dd.d
      GROUP BY dd.d
    )
    SELECT {fmt_day} AS day,
           CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           ROUND(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
    FROM actives
"""


@register(
    "events_dau_mau",
    oracle=_DAU_SQL.format(fmt_day="strftime(d, '%Y-%m-%d')"),
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_DAU_SQL.format(fmt_day="date_format(d, 'yyyy-MM-dd')"))


# --------------------------------------------------------------------------
# orders_seasonality — classical decomposition of monthly revenue:
# per calendar month, total revenue, the 3-month centered moving average
# (trend), and the seasonal index (month-of-year mean over the overall
# monthly mean). Scale: everything after the one groupBy runs on the
# MONTH-grain census (bounded — 12 rows/year), so the ordered moving-
# average window never touches facts.
_SEASONALITY_SQL = """
    WITH monthly AS (
      SELECT CAST({yr} AS INT) AS yr, CAST({mon} AS INT) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders
      GROUP BY {yr}, {mon}
    ),
    windowed AS (
      SELECT yr, mon, CAST(rev_dec AS DOUBLE) AS revenue,
             CAST(SUM(rev_dec) OVER (ORDER BY yr, mon
                                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
               / COUNT(*) OVER (ORDER BY yr, mon
                                ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS trend,
             CAST(SUM(rev_dec) OVER (PARTITION BY mon) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY mon) AS month_mean,
             CAST(SUM(rev_dec) OVER () AS DOUBLE) / COUNT(*) OVER () AS overall_mean
      FROM monthly
    )
    SELECT yr, mon, revenue,
           ROUND(trend, 2) AS trend_3mo,
           -- zero-guarded: an all-zero-price random table (hypothesis)
           -- makes the overall mean 0 — Spark ANSI throws, DuckDB yields
           -- inf; real-data hashes are unchanged (prices are never 0)
           ROUND(month_mean / (CASE WHEN overall_mean = 0.0e0
                                    THEN 1e-9 ELSE overall_mean END), 6)
             AS seasonal_index
    FROM windowed
"""


@register(
    "orders_seasonality",
    oracle=_SEASONALITY_SQL.format(
        yr="EXTRACT(year FROM o_orderdate)", mon="EXTRACT(month FROM o_orderdate)"
    ),
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _SEASONALITY_SQL.format(yr="year(o_orderdate)", mon="month(o_orderdate)")
    )


# --------------------------------------------------------------------------
# parts_abc_classification — ABC inventory analysis: parts ranked by
# lineitem revenue; cumulative revenue share buckets them A (first 70%),
# B (to 90%), C (tail). Scale: the fact scan collapses to the PART-grain
# census (dimension-bounded) before the single ordered cumulative
# window; revenue sums are exact DECIMAL. The window runs over parts,
# never lineitem — at 100TB that is millions of rows once, not
# billions.
_ABC_SQL = """
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, CAST(rev_dec AS DOUBLE) AS revenue,
             CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum_rev,
             CAST(SUM(rev_dec) OVER () AS DOUBLE) AS total_rev,
             ROW_NUMBER() OVER (ORDER BY rev_dec DESC, l_partkey) AS rnk
      FROM per_part
    )
    SELECT l_partkey, revenue,
           CAST(rnk AS BIGINT) AS revenue_rank,
           ROUND(cum_rev / total_rev, 6) AS cum_share,
           CASE WHEN cum_rev / total_rev <= 0.7 THEN 'A'
                WHEN cum_rev / total_rev <= 0.9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
"""


@register("parts_abc_classification", oracle=_ABC_SQL)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark side: distributed exact rank/prefix-sum (see _exact_rank_stage)
    # instead of the oracle's single-partition ordered window — the part
    # census is ~20B rows at 100TB and must never serialize through one
    # task. DECIMAL sums are associative, so offset + local running sum is
    # bit-identical to the global-window spelling the oracle keeps.
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    per_part = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount").cast(DEC))
            ).alias("rev_dec")
        )
    )
    ranked, _n, total = _exact_rank_stage(
        spark, sf_dir, "abc_rank", per_part, "rev_dec", "l_partkey",
        desc=True, sum_col="rev_dec",
    )
    total_dbl = F.lit(float(total))
    share = F.col("_cum").cast("double") / total_dbl
    return ranked.select(
        F.col("l_partkey"),
        F.col("rev_dec").cast("double").alias("revenue"),
        F.col("_rank").alias("revenue_rank"),
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C").alias("abc_class"),
    )


# --------------------------------------------------------------------------
# events_ab_test — A/B experiment readout: users are deterministically
# assigned a variant (md5(user) parity — exactly how production bucketing
# works), conversion = a purchase at value >= 150; the report is per-variant
# conversion plus the pooled two-proportion z statistic. sqrt is IEEE
# correctly-rounded, so identical inputs give identical z in both
# engines. Scale: one (user) census then constant-size per-variant
# rollup; the z layer is driver-scale arithmetic on two rows.
_ABTEST_SQL = """
    WITH per_user AS (
      SELECT user_id,
             CAST({bucket} AS INT) AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS converted
      FROM events
      GROUP BY user_id
    ),
    arms AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM per_user GROUP BY variant
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
        MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
        MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
        MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM arms
    ),
    pooled AS (
      SELECT n0, c0, n1, c1,
             CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS p
      FROM wide
    )
    SELECT a.variant, a.n_users, a.n_converted,
           ROUND(CAST(a.n_converted AS DOUBLE) / a.n_users, 6) AS conversion_rate,
           -- zero pooled variance (all or none converted) has no defined
           -- z; emit 0.0 in BOTH engines (Spark ANSI raises on /0 where
           -- DuckDB floats to NaN — neither may reach the output)
           CASE WHEN w.p * (1 - w.p) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND(
                  (CAST(w.c1 AS DOUBLE) / w.n1 - CAST(w.c0 AS DOUBLE) / w.n0)
                  / sqrt(w.p * (1 - w.p) * (1.0e0 / w.n0 + 1.0e0 / w.n1)),
                  6)
           END AS z_statistic
    FROM arms a CROSS JOIN pooled w
"""


@register(
    "events_ab_test",
    oracle=_ABTEST_SQL.format(
        bucket="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2"
    ),
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _ABTEST_SQL.format(
            bucket="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2"
        )
    )


# --------------------------------------------------------------------------
# shipping_latency_percentiles — fulfillment SLA report: order-to-ship
# latency in whole days (fact ⋈ fact on orderkey), exact interpolated
# p50/p90/p99 per order priority plus the mean from exact integer sums.
# Scale: the orders⋈lineitem join shuffles on the natural orderkey; the
# percentile state is per priority group (5 groups) — Spark percentile
# == DuckDB quantile_cont on identical integer inputs.
_SHIPLAT_SQL = """
    WITH lat AS (
      SELECT o.o_orderpriority, {day_diff} AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND({p50}, 4) AS p50_days,
           ROUND({p90}, 4) AS p90_days,
           ROUND({p99}, 4) AS p99_days,
           ROUND(CAST(SUM(CAST(days AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS mean_days
    FROM lat GROUP BY o_orderpriority
"""


@register(
    "shipping_latency_percentiles",
    oracle=_SHIPLAT_SQL.format(
        day_diff="date_diff('day', o.o_orderdate, l.l_shipdate)",
        p50="quantile_cont(days, 0.5)",
        p90="quantile_cont(days, 0.9)",
        p99="quantile_cont(days, 0.99)",
    ),
)
def shipping_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        _SHIPLAT_SQL.format(
            day_diff="datediff(l.l_shipdate, o.o_orderdate)",
            p50="percentile(days, 0.5)",
            p90="percentile(days, 0.9)",
            p99="percentile(days, 0.99)",
        )
    )


# --------------------------------------------------------------------------
# orders_merge_upsert — Delta-style MERGE INTO (upsert) semantics, the
# core table-maintenance op of every lakehouse pipeline. A deterministic
# "existing table" (orderkeys not divisible by 7) receives an update
# feed (even orderkeys, repriced +5%): matched keys take the update,
# unmatched feed rows insert, untouched rows are kept. Repricing runs in
# integer cents (cents*105+50 DIV 100) — DOUBLE→DECIMAL repricing hits
# exact half-cent ties where Spark rounds HALF_UP and DuckDB half-even;
# integer math is tie-free and engine-identical. Scale: ONE full-outer
# shuffle join on the natural key — exactly the physical plan
# Delta/Iceberg MERGE lowers to; no driver loop, no second pass. At
# 100TB both sides hash-partition on o_orderkey and AQE coalesces the
# (usually much smaller) update side.
_MERGE_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    updates AS (
      SELECT o_orderkey, 'P' AS o_orderstatus,
             CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 105 + 50) {idiv} 100
                  AS DOUBLE) / 100 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
           COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
                WHEN u.o_orderkey IS NULL THEN 'kept'
                ELSE 'updated' END AS merge_op
    FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
"""


@register("orders_merge_upsert", oracle=_MERGE_SQL.format(idiv="//"))
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_MERGE_SQL.format(idiv="DIV"))


# --------------------------------------------------------------------------
# orders_cdc_changelog — change-data-capture diff between two table
# snapshots, emitted as a Flink/Debezium-style changelog (+I insert,
# -D delete, -U/+U update retract pair). Deterministic snapshots: "old"
# drops orderkeys divisible by 7, "new" drops those divisible by 5 and
# reprices keys divisible by 3 (+10%, tie-free integer-cents math as in
# orders_merge_upsert). Scale: ONE full-outer shuffle join on the key;
# the up-to-two changelog rows per key come from exploding a per-row
# literal array — a single pass, never one join per op type (a UNION ALL
# spelling would re-execute the join three times in both engines).
def _sql_cdc_changelog(mkrow, empty, unnest_from, idiv):
    def row(op, price):
        return mkrow.format(op=op, price=price)

    return f"""
    WITH old_snap AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new_snap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0
                  THEN (CAST(ROUND(o_totalprice * 100) AS BIGINT) * 110 + 50) {idiv} 100
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    joined AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.cents AS old_cents, n.cents AS new_cents,
             o.o_orderkey IS NULL AS is_ins, n.o_orderkey IS NULL AS is_del
      FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
    ),
    ops AS (
      SELECT o_orderkey,
             CASE WHEN is_ins THEN {row("'+I'", "new_cents")}
                  WHEN is_del THEN {row("'-D'", "old_cents")}
                  WHEN old_cents <> new_cents
                    THEN {row("'-U'", "old_cents")} || {row("'+U'", "new_cents")}
                  ELSE {empty} END AS changes
      FROM joined
    )
    SELECT o_orderkey, c.op AS op, CAST(c.cents AS DOUBLE) / 100 AS price
    FROM ({unnest_from}) x
    """


@register(
    "orders_cdc_changelog",
    oracle=_sql_cdc_changelog(
        mkrow="[{{'op': {op}, 'cents': {price}}}]",
        empty="CAST([] AS STRUCT(op VARCHAR, cents BIGINT)[])",
        unnest_from="SELECT o_orderkey, unnest(changes) AS c FROM ops",
        idiv="//",
    ),
)
def orders_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _sql_cdc_changelog(
            mkrow="array(named_struct('op', {op}, 'cents', {price}))",
            empty="CAST(array() AS ARRAY<STRUCT<op: STRING, cents: BIGINT>>)",
            unnest_from="SELECT o_orderkey, explode(changes) AS c FROM ops",
            idiv="DIV",
        )
    )


# --------------------------------------------------------------------------
# customer_rfm_segments — classic RFM (recency / frequency / monetary)
# customer segmentation: per-customer quintile scores with unique-key
# tie-breaks, summed into named segments. Scale: the fact scan collapses
# to the customer-grain census first; the three NTILE windows run over
# customers (dimension-bounded — millions of rows at 100TB, one sort
# pass each, never the fact table). Monetary sums are exact DECIMAL.
_RFM_SQL = """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monet_dec
      FROM orders GROUP BY o_custkey
    ),
    with_recency AS (
      SELECT o_custkey, n_orders, monet_dec,
             CAST({recency} AS BIGINT) AS recency_days
      FROM per_cust
    ),
    scored AS (
      SELECT o_custkey, recency_days, n_orders,
             CAST(monet_dec AS DOUBLE) AS monetary,
             CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY n_orders ASC, o_custkey) AS BIGINT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monet_dec ASC, o_custkey) AS BIGINT) AS m_score
      FROM with_recency
    )
    SELECT o_custkey, recency_days, n_orders, monetary, r_score, f_score, m_score,
           CASE WHEN r_score + f_score + m_score >= 12 THEN 'champion'
                WHEN r_score + f_score + m_score >= 9 THEN 'loyal'
                WHEN r_score + f_score + m_score >= 6 THEN 'regular'
                ELSE 'at_risk' END AS segment
    FROM scored
"""


def _ntile_from_rank(n: int, k: int = 5):
    """Map an exact global rank (column `_rank`) to its NTILE(k) bucket:
    the first n%k buckets take ceil(n/k) rows, the rest floor(n/k) —
    Spark's and DuckDB's shared NTILE semantics, computed map-side from
    the distributed rank instead of a single-partition NTILE window."""
    q, r = divmod(n, k)
    if q == 0:
        return F.expr("CAST(_rank AS BIGINT)")
    boundary = (q + 1) * r
    return F.expr(
        f"CAST(CASE WHEN _rank <= {boundary} THEN (_rank + {q}) DIV {q + 1} "
        f"ELSE {r} + (_rank - {boundary} + {q - 1}) DIV {q} END AS BIGINT)"
    )


@register(
    "customer_rfm_segments",
    oracle=_RFM_SQL.format(recency="date_diff('day', last_order, MAX(last_order) OVER ())"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark side: three distributed rank passes (_exact_rank_stage) feed
    # the NTILE arithmetic map-side — the oracle's three NTILE windows and
    # its MAX() OVER () would each serialize the customer census through
    # one task at 100TB. The global max date is a 1-row scalar collect.
    (orders,) = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("monet_dec"),
        )
        .persist()
    )
    max_last = per_cust.agg(F.max("last_order")).collect()[0][0]
    census = per_cust.withColumn(
        "recency_days", F.datediff(F.lit(max_last), F.col("last_order")).cast("bigint")
    ).persist()
    rk_r, n, _ = _exact_rank_stage(
        spark, sf_dir, "rfm_r", census, "recency_days", "o_custkey", desc=True
    )
    rk_f, _, _ = _exact_rank_stage(
        spark, sf_dir, "rfm_f", census, "n_orders", "o_custkey", desc=False
    )
    rk_m, _, _ = _exact_rank_stage(
        spark, sf_dir, "rfm_m", census, "monet_dec", "o_custkey", desc=False
    )
    r_s = rk_r.select("o_custkey", _ntile_from_rank(n).alias("r_score"))
    f_s = rk_f.select("o_custkey", _ntile_from_rank(n).alias("f_score"))
    m_s = rk_m.select("o_custkey", _ntile_from_rank(n).alias("m_score"))
    scored = (
        census.select(
            "o_custkey", "recency_days", "n_orders",
            F.col("monet_dec").cast("double").alias("monetary"),
        )
        .join(r_s, "o_custkey")
        .join(f_s, "o_custkey")
        .join(m_s, "o_custkey")
    )
    total = F.col("r_score") + F.col("f_score") + F.col("m_score")
    return scored.select(
        "o_custkey", "recency_days", "n_orders", "monetary",
        "r_score", "f_score", "m_score",
        F.when(total >= 12, "champion")
        .when(total >= 9, "loyal")
        .when(total >= 6, "regular")
        .otherwise("at_risk")
        .alias("segment"),
    )


# --------------------------------------------------------------------------
# events_survival_curve — user-lifetime survival analysis (uncensored
# Kaplan-Meier): lifetime = days between a user's first and last event;
# for each day k the cohort at risk, the users churning exactly at k,
# the discrete hazard, and the survivor fraction P(lifetime > k).
# Scale: the event scan collapses to the user census, the census to the
# LIFETIME HISTOGRAM (bounded by the day range) — the window runs over
# the 31-row day spine, never users × days. The 0–30 spine covers the
# sf0.01 lifetime range (26–29 days) so n_churned is non-vacuous; the
# n_at_risk CAST keeps DuckDB's window-SUM HUGEINT out of the output.
_SURVIVAL_SQL = """
    WITH per_user AS (
      SELECT user_id, {lifetime} AS lifetime
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT lifetime, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM per_user GROUP BY lifetime
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_user),
    spine AS (SELECT CAST(k AS BIGINT) AS day_k FROM (SELECT {days}) s),
    cum AS (
      SELECT day_k, COALESCE(h.cnt, 0) AS n_churned,
             SUM(COALESCE(h.cnt, 0)) OVER (ORDER BY day_k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le
      FROM spine LEFT JOIN hist h ON h.lifetime = spine.day_k
    )
    SELECT day_k, n_churned,
           CAST(t.n - cum_le + n_churned AS BIGINT) AS n_at_risk,
           CASE WHEN t.n - cum_le + n_churned = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND(CAST(n_churned AS DOUBLE) / (t.n - cum_le + n_churned), 6)
           END AS hazard,
           ROUND(CAST(t.n - cum_le AS DOUBLE) / t.n, 6) AS survival
    FROM cum CROSS JOIN tot t
    ORDER BY day_k
"""


@register(
    "events_survival_curve",
    oracle=_SURVIVAL_SQL.format(
        lifetime="CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT)",
        days="unnest(generate_series(0, 30)) AS k",
    ),
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _SURVIVAL_SQL.format(
            lifetime="CAST(datediff(MAX(ts), MIN(ts)) AS BIGINT)",
            days="explode(sequence(0, 30)) AS k",
        )
    )


# --------------------------------------------------------------------------
# discount_elasticity_ols — closed-form distributed OLS: per part brand,
# regress line-item quantity on discount (slope = demand response per
# unit discount, with intercept and r²). The 100TB-correct shape for
# regression: the fact scan reduces map-side to five moment sums per
# group (n, Σx, Σy, Σxy, Σx², Σy²) — one shuffle of constant-size
# state, no iteration. Determinism: x/y are quantized to exact integers
# (basis points / hundredths), moments summed as DECIMAL(38,0) (exact,
# order-independent), and the closed form evaluates on exact inputs.
_OLS_SQL = """
    WITH pts AS (
      SELECT p.p_brand,
             CAST(ROUND(l.l_discount * 10000) AS BIGINT) AS x,
             CAST(ROUND(l.l_quantity * 100) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    mom AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n,
           CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 100, 6)
           END AS slope_qty_per_discount,
           CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND(sy / (n * 100) - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                           * sx / (n * 100), 6)
           END AS intercept_qty,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r_squared
    FROM mom
    ORDER BY p_brand
"""


@register("discount_elasticity_ols", oracle=_OLS_SQL)
def discount_elasticity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "part")
    return spark.sql(_OLS_SQL)


# --------------------------------------------------------------------------
# join_skew_audit — shuffle-planning diagnostic: the hottest join keys
# on the fact table's l_partkey, each with its share of total rows and
# the salt factor a skew-mitigating join would need (ceil of the key's
# load vs the average capacity of a 2048-partition shuffle — the width
# a 100TB cluster join actually runs at; the round-6 vacuousness audit
# found the 32-partition divisor made salt_factor identically 1 on
# this near-uniform key set, i.e. the sizing arithmetic never
# exercised). This is the query you run BEFORE a big shuffle join at
# 100TB: AQE handles moderate skew, but pathological keys need
# explicit salting and this report sizes it.
# Scale: one map-side-combined census on the join key, then a top-20
# TakeOrdered — the full census never sorts globally.
_SKEW_SQL = """
    WITH key_census AS (
      SELECT l_partkey AS join_key, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM key_census
    )
    SELECT k.join_key, k.n_rows,
           ROUND(CAST(k.n_rows AS DOUBLE) / t.total_rows, 6) AS row_share,
           ROUND(CAST(k.n_rows AS DOUBLE) * t.n_keys / t.total_rows, 4) AS skew_vs_mean,
           CAST(ceil(CAST(k.n_rows AS DOUBLE) * 2048 / t.total_rows) AS BIGINT) AS salt_factor
    FROM key_census k CROSS JOIN tot t
    ORDER BY k.n_rows DESC, k.join_key
    LIMIT 20
"""


@register("join_skew_audit", oracle=_SKEW_SQL)
def join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_SKEW_SQL)


# --------------------------------------------------------------------------
# quantile_sketch_orders — distributed quantile estimation from a fixed
# 256-bin histogram sketch (the deterministic stand-in for
# t-digest/KLL: constant-size mergeable state, in-bin linear
# interpolation), audited against the exact interpolated percentiles.
# This is how approx_percentile works at 100TB: the histogram merges
# map-side into 256 integer cells no matter the row count; only the
# audit leg pays the exact global sort, and it's the part you drop in
# production. Bin width is a FIXED constant ($2,500 in cents), not
# data-dependent — merging sketches across partitions/days needs
# identical grids. Integer cents + exact window sums keep the estimate
# engine-identical.
_QSKETCH_SQL = """
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
    hist AS (
      SELECT least({bin}, 255) AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM vals GROUP BY least({bin}, 255)
    ),
    cum AS (
      SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM hist
    ),
    qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (SELECT {qlist}) t),
    pick AS (
      SELECT qs.q, MIN(c.bin) AS bin
      FROM qs CROSS JOIN tot CROSS JOIN cum c
      WHERE c.cum >= qs.q * tot.n
      GROUP BY qs.q
    ),
    exact AS (
      SELECT {p50} AS p50, {p90} AS p90, {p99} AS p99 FROM vals
    )
    SELECT p.q,
           ROUND((c.bin * 250000 + 250000.0e0 * (p.q * t.n - (c.cum - c.cnt)) / c.cnt)
                 / 100, 4) AS est_totalprice,
           ROUND(CASE WHEN p.q = 0.5e0 THEN e.p50
                      WHEN p.q = 0.9e0 THEN e.p90
                      ELSE e.p99 END / 100, 4) AS exact_totalprice,
           -- zero-guarded denominator: an all-equal (or all-zero) price
           -- column makes the exact percentile 0, where Spark's ANSI
           -- division throws and DuckDB yields inf — the guard keeps the
           -- engines agreeing (hypothesis-found edge; real-data hashes
           -- are unchanged, prices are never 0 there)
           ROUND(ABS((c.bin * 250000 + 250000.0e0 * (p.q * t.n - (c.cum - c.cnt)) / c.cnt)
                     - CASE WHEN p.q = 0.5e0 THEN e.p50
                            WHEN p.q = 0.9e0 THEN e.p90
                            ELSE e.p99 END)
                 / greatest(ABS(CASE WHEN p.q = 0.5e0 THEN e.p50
                                     WHEN p.q = 0.9e0 THEN e.p90
                                     ELSE e.p99 END), 1e-9), 6) AS rel_error
    FROM pick p
    JOIN cum c ON c.bin = p.bin
    CROSS JOIN tot t CROSS JOIN exact e
    ORDER BY p.q
"""


@register(
    "quantile_sketch_orders",
    oracle=_QSKETCH_SQL.format(
        bin="(cents // 250000)",
        qlist="unnest([0.5e0, 0.9e0, 0.99e0]) AS q",
        p50="quantile_cont(cents, 0.5)",
        p90="quantile_cont(cents, 0.9)",
        p99="quantile_cont(cents, 0.99)",
    ),
)
def quantile_sketch_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _QSKETCH_SQL.format(
            bin="(cents DIV 250000)",
            qlist="explode(array(0.5e0, 0.9e0, 0.99e0)) AS q",
            p50="percentile(cents, 0.5)",
            p90="percentile(cents, 0.9)",
            p99="percentile(cents, 0.99)",
        )
    )


# --------------------------------------------------------------------------
# range_partition_plan — range-partitioner boundary planning, the
# cut-point step behind every distributed global sort (Spark's
# RangePartitioner, TeraSort cut points): a bounded $1000-wide value
# census of order prices (GROUP BY cents DIV 100000 — a few hundred
# buckets at ANY corpus size, value-bounded not row-bounded) yields 31
# cumulative-count cut buckets for 32 ranges; the full table then
# audits actual per-range loads against the ideal. Redesigned in r7:
# the original NTILE(32) over a fixed-fraction md5 sample was the one
# corpus-scale single-partition window the window-inventory test
# flagged (1.6% of 100 TB still lands on one partition); the census
# cumulative window is bounded by the price range, not the row count.
# Scale: one map-side-combined census pass; the 31 cuts come from a
# 31-row spine joined to the bounded cumulative census; assignment is
# a SIZE(FILTER(boundary_array)) binary-search stand-in — O(32) per
# row map-side, never a 32× row blowup join. Integer cents throughout.
# Non-vacuous at sf0.01 (probed r7): 32 ranges, 24 distinct loads,
# skew_vs_ideal spans 0.9472-1.0709.
_RANGEPLAN_SQL = """
    WITH vals AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    census AS (
      SELECT {cdiv} AS cb, CAST(COUNT(*) AS BIGINT) AS n
      FROM vals GROUP BY {cdiv}
    ),
    cum AS (
      SELECT cb, CAST(SUM(n) OVER (ORDER BY cb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
      FROM census
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM vals),
    spine AS (SELECT {ilist}),
    cuts AS (
      SELECT s.i, CAST(MIN(c.cb) AS BIGINT) AS cb
      FROM spine s CROSS JOIN tot t
      JOIN cum c ON c.cn * 32 >= s.i * t.total
      GROUP BY s.i
    ),
    bounds AS (
      SELECT {blist} AS barr
      FROM (SELECT DISTINCT (cb + 1) * 100000 AS hi FROM cuts) b
    ),
    assigned AS (
      -- COALESCE guards the empty-sample edge: Spark collect_list gives
      -- [] where DuckDB list() gives NULL (everything lands in range 0)
      SELECT CAST(COALESCE({bucket}, 0) AS BIGINT) AS range_id
      FROM vals CROSS JOIN bounds
    ),
    loads AS (
      SELECT range_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM assigned GROUP BY range_id
    ),
    ltot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM loads)
    SELECT l.range_id, l.n_rows,
           floor(CAST(l.n_rows AS DOUBLE) / t.total * 1000000.0e0 + 0.5e0)
             / 1000000.0e0 AS row_share,
           floor(CAST(l.n_rows AS DOUBLE) * 32 / t.total * 10000.0e0 + 0.5e0)
             / 10000.0e0 AS skew_vs_ideal
    FROM loads l CROSS JOIN ltot t
    ORDER BY l.range_id
"""


@register(
    "range_partition_plan",
    oracle=_RANGEPLAN_SQL.format(
        cdiv="cents // 100000",
        ilist="CAST(unnest(generate_series(1, 31)) AS BIGINT) AS i",
        blist="list_sort(list(b.hi))",
        bucket="len(list_filter(bounds.barr, x -> x < vals.cents))",
    ),
)
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _RANGEPLAN_SQL.format(
            cdiv="cents DIV 100000",
            ilist="explode(sequence(CAST(1 AS BIGINT), CAST(31 AS BIGINT))) AS i",
            blist="array_sort(collect_list(b.hi))",
            bucket="size(filter(bounds.barr, x -> x < vals.cents))",
        )
    )


# --------------------------------------------------------------------------
# table_profile_stats — one-pass column profiling of the events table
# (null counts, null fraction, distinct cardinality per column): the
# data-quality report every ingestion pipeline runs before modeling.
# Scale: ONE aggregate pass computes all per-column metrics (COUNT +
# COUNT(col) + COUNT(DISTINCT col) — Spark's Expand handles the
# multi-distinct in the same shuffle); the per-column rows then come
# from joining the 1-row aggregate against a 6-row column spine with
# CASE projection — never one scan per column.
_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _profile_sql(names_spine: str) -> str:
    aggs = ", ".join(
        f"COUNT({c}) AS nn_{c}, CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        for c in _PROFILE_COLS
    )
    nn_case = " ".join(f"WHEN '{c}' THEN nn_{c}" for c in _PROFILE_COLS)
    nd_case = " ".join(f"WHEN '{c}' THEN nd_{c}" for c in _PROFILE_COLS)
    return f"""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {aggs} FROM events
    ),
    spine AS (SELECT column_name FROM ({names_spine}) s)
    SELECT s.column_name, a.n_rows,
           CAST(a.n_rows - (CASE s.column_name {nn_case} END) AS BIGINT) AS n_null,
           ROUND(CAST(a.n_rows - (CASE s.column_name {nn_case} END) AS DOUBLE)
                 / a.n_rows, 6) AS frac_null,
           CAST(CASE s.column_name {nd_case} END AS BIGINT) AS n_distinct
    FROM spine s CROSS JOIN agg a
    ORDER BY s.column_name
    """


@register(
    "table_profile_stats",
    oracle=_profile_sql(
        "SELECT unnest(['event_id','ts','user_id','event_type','value','props']) AS column_name"
    ),
)
def table_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _profile_sql(
            "SELECT explode(array('event_id','ts','user_id','event_type','value','props'))"
            " AS column_name"
        )
    )


# --------------------------------------------------------------------------
# join_strategy_advisor — size-based join-strategy planning report: per
# table, exact row count and an estimated in-memory size from typed
# column widths (strings by actual length, numerics/timestamps 8 bytes),
# recommending BROADCAST below the 10MB autoBroadcastJoinThreshold,
# SHUFFLE_HASH below 64MB-per-partition working sets, SORT_MERGE above —
# the decision Catalyst makes from statistics, surfaced as a query so a
# pipeline can pin hints. Scale: one map-side width-sum pass per table;
# nothing global but the 8-row report.
_ADVISOR_TABLES: dict[str, str] = {
    "region": "8 + length(r_name)",
    "nation": "16 + length(n_name)",
    "customer": "20 + length(c_name) + length(c_mktsegment)",
    "supplier": "20 + length(s_name)",
    "part": "20 + length(p_name) + length(p_brand) + length(p_type)",
    "orders": "32 + length(o_orderstatus) + length(o_orderpriority)",
    "lineitem": "60 + length(l_returnflag) + length(l_linestatus)",
    "events": "32 + length(event_type) + COALESCE(length(props), 0)",
}


def _advisor_sql() -> str:
    legs = "\n    UNION ALL\n".join(
        f"""    SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST({w} AS BIGINT)) AS BIGINT) AS est_bytes
    FROM {t}"""
        for t, w in _ADVISOR_TABLES.items()
    )
    return f"""
    WITH stats AS (
{legs}
    )
    SELECT table_name, n_rows, est_bytes,
           CASE WHEN est_bytes <= 10485760 THEN 'broadcast'
                WHEN est_bytes <= 67108864 THEN 'shuffle_hash'
                ELSE 'sort_merge' END AS join_strategy
    FROM stats
    ORDER BY table_name
    """


@register("join_strategy_advisor", oracle=_advisor_sql())
def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(
        spark, sf_dir,
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    )
    return spark.sql(_advisor_sql())


# --------------------------------------------------------------------------
# events_late_arrival_audit — watermark configuration planning: each
# event's ingest arrival is its event time plus a deterministic
# per-event transport delay (md5(event_id) mod 2h — the md5-keyed
# stand-in for network/queue jitter; the synthetic feed itself is
# PERFECTLY ordered by event_id, which the round-6 vacuousness audit
# showed makes the raw-order lateness identically zero — all three
# metrics were constant and the audit certified nothing). Lateness is
# how far an event's TIME sits behind the running max event time in
# ARRIVAL order; the report says, for candidate watermarks
# (15m/30m/1h/2h), how many events a streaming job would DROP and the
# surviving fraction — the number you need before setting withWatermark
# on a real feed. Scale: the running max is the DISTRIBUTED two-pass
# prefix scan (per-arrival-hour windows partitioned by bucket + a
# bounded cross-bucket carry census — bit-equal to the global scan it
# replaced, which the r7 window inventory flagged as the one
# corpus-scale single-partition window); then a constant 4-row rollup.
# the tail (everything after the delayed-arrival frame) is shared with
# stream_late_arrival_monitor, whose streaming leg materializes the same
# (event_id, ts_sec, arrival_sec) rows from the event stream
_LATE_TAIL_SQL = """
    bkt AS (
      SELECT ts_sec, arrival_sec, event_id, {bdiv} AS ab FROM {src}
    ),
    bc AS (
      SELECT ab, MAX(ts_sec) AS bmax FROM bkt GROUP BY ab
    ),
    carry AS (
      SELECT ab,
             MAX(bmax) OVER (ORDER BY ab
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM bc
    ),
    arrival AS (
      -- distributed prefix-max: the running max within each arrival-hour
      -- bucket runs PARTITIONED (parallel); the cross-bucket carry comes
      -- from the bounded per-bucket census above. Exactly equal to the
      -- single-partition MAX OVER (ORDER BY arrival_sec, event_id) it
      -- replaced (prefix max decomposes), without moving the corpus to
      -- one partition — the r7 window-inventory finding.
      SELECT b.ts_sec,
             GREATEST(
               COALESCE(c.prev_max, b.ts_sec),
               MAX(b.ts_sec) OVER (PARTITION BY b.ab
                                   ORDER BY b.arrival_sec, b.event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             ) AS high_watermark
      FROM bkt b JOIN carry c ON c.ab = b.ab
    ),
    lateness AS (
      SELECT CAST(high_watermark - ts_sec AS BIGINT) AS late_sec FROM arrival
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lateness),
    wm AS (SELECT CAST(w AS BIGINT) AS watermark_sec FROM ({wlist}) t)
    SELECT w.watermark_sec,
           CAST(SUM(CASE WHEN l.late_sec > w.watermark_sec THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           ROUND(1.0e0 - CAST(SUM(CASE WHEN l.late_sec > w.watermark_sec THEN 1 ELSE 0 END)
                              AS DOUBLE) / t.n, 6) AS keep_fraction,
           CAST(MAX(l.late_sec) AS BIGINT) AS max_late_sec
    FROM wm w CROSS JOIN lateness l CROSS JOIN tot t
    GROUP BY w.watermark_sec, t.n
    ORDER BY w.watermark_sec
"""

_LATE_AUDIT_SQL = (
    """
    WITH delayed AS (
      SELECT event_id, {epoch_ts} AS ts_sec,
             {epoch_ts} + ({h8} % 7200) AS arrival_sec
      FROM events
    ),"""
    + _LATE_TAIL_SQL
)


def _late_audit_oracle() -> str:
    return _LATE_AUDIT_SQL.format(
        epoch_ts="CAST(floor(epoch(ts)) AS BIGINT)",
        h8="CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)",
        src="delayed",
        bdiv="arrival_sec // 3600",
        wlist="SELECT unnest([900, 1800, 3600, 7200]) AS w",
    )


@register("events_late_arrival_audit", oracle=_late_audit_oracle())
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _LATE_AUDIT_SQL.format(
            epoch_ts="CAST(unix_timestamp(ts) AS BIGINT)",
            h8="CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10) AS BIGINT)",
            src="delayed",
            bdiv="arrival_sec DIV 3600",
            wlist="SELECT explode(array(900, 1800, 3600, 7200)) AS w",
        )
    )


# --------------------------------------------------------------------------
# events_bot_score — behavioral bot/abuse heuristics per user: volume
# (events per active hour), burstiness (max events in one hour), and
# gap regularity (exact p10/p90 of inter-event seconds — scripted
# traffic has near-constant gaps, humans don't). The data-cleaning gate
# a pipeline runs before behavioral analytics. Flag thresholds are
# calibrated to this feed's tails (burst >= 3/hour, gap spread <=
# 58000 s: ~9 of 150 users flag) — the round-6 vacuousness audit found
# the original 10/hour + 60 s thresholds sit far outside the synthetic
# feed's range (max burst is 3, min spread ~54000 s), leaving bot_flag
# identically 0. Scale: one LAG window
# and one aggregate, both on the user_id shuffle; gap percentiles are
# per-user state over integer gaps.
_BOT_SQL = """
    WITH ordered AS (
      SELECT user_id, {epoch_ts} AS ts_sec, {hour_t} AS hr
      FROM events
    ),
    gaps AS (
      SELECT user_id, ts_sec, hr,
             ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, hr) AS gap_sec
      FROM ordered
    ),
    hourly AS (
      SELECT user_id, hr, CAST(COUNT(*) AS BIGINT) AS n_in_hour
      FROM ordered GROUP BY user_id, hr
    ),
    per_user AS (
      SELECT g.user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             {p10} AS gap_p10,
             {p90} AS gap_p90
      FROM gaps g GROUP BY g.user_id
    ),
    bursts AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS active_hours,
             CAST(MAX(n_in_hour) AS BIGINT) AS max_per_hour
      FROM hourly GROUP BY user_id
    )
    SELECT u.user_id, u.n_events, b.active_hours, b.max_per_hour,
           ROUND(CAST(u.n_events AS DOUBLE) / b.active_hours, 4) AS events_per_active_hour,
           ROUND(u.gap_p10, 4) AS gap_p10_sec,
           ROUND(u.gap_p90, 4) AS gap_p90_sec,
           CASE WHEN u.n_events >= 20
                     AND (b.max_per_hour >= 3
                          OR (u.gap_p90 IS NOT NULL AND u.gap_p90 - u.gap_p10 <= 58000))
                THEN 1 ELSE 0 END AS bot_flag
    FROM per_user u JOIN bursts b ON b.user_id = u.user_id
"""


@register(
    "events_bot_score",
    oracle=_BOT_SQL.format(
        epoch_ts="CAST(floor(epoch(ts)) AS BIGINT)",
        hour_t="date_trunc('hour', ts)",
        p10="quantile_cont(g.gap_sec, 0.1)",
        p90="quantile_cont(g.gap_sec, 0.9)",
    ),
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _BOT_SQL.format(
            epoch_ts="CAST(unix_timestamp(ts) AS BIGINT)",
            hour_t="date_trunc('hour', ts)",
            p10="percentile(g.gap_sec, 0.1)",
            p90="percentile(g.gap_sec, 0.9)",
        )
    )


# --------------------------------------------------------------------------
# orders_dq_rules_audit — declarative data-quality rule evaluation (the
# dbt-tests / Deequ shape): five rules checked in ONE aggregate pass
# (CASE sums + a distinct-key count), unpivoted to a per-rule report via
# the column spine join — never one scan per rule. Scale: map-side
# partials for everything; the duplicate-key rule rides the same
# aggregate via COUNT vs COUNT(DISTINCT).
_DQ_SQL = """
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_status_domain,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
                            OR o_orderdate > TIMESTAMP '1998-12-31 23:59:59'
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_date_range,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS v_custkey_not_null,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_key_unique
      FROM orders
    ),
    spine AS (SELECT rule_name FROM ({rules}) r)
    SELECT s.rule_name, a.n_rows,
           CAST(CASE s.rule_name
                WHEN 'price_positive' THEN a.v_price_positive
                WHEN 'status_domain' THEN a.v_status_domain
                WHEN 'date_range' THEN a.v_date_range
                WHEN 'custkey_not_null' THEN a.v_custkey_not_null
                ELSE a.v_key_unique END AS BIGINT) AS n_violations,
           ROUND(CAST(CASE s.rule_name
                WHEN 'price_positive' THEN a.v_price_positive
                WHEN 'status_domain' THEN a.v_status_domain
                WHEN 'date_range' THEN a.v_date_range
                WHEN 'custkey_not_null' THEN a.v_custkey_not_null
                ELSE a.v_key_unique END AS DOUBLE) / a.n_rows, 6) AS violation_rate
    FROM spine s CROSS JOIN agg a
    ORDER BY s.rule_name
"""


@register(
    "orders_dq_rules_audit",
    oracle=_DQ_SQL.format(
        rules="SELECT unnest(['price_positive','status_domain','date_range',"
        "'custkey_not_null','key_unique']) AS rule_name"
    ),
)
def orders_dq_rules_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _DQ_SQL.format(
            rules="SELECT explode(array('price_positive','status_domain','date_range',"
            "'custkey_not_null','key_unique')) AS rule_name"
        )
    )


# --------------------------------------------------------------------------
# feature_drift_psi — population-stability-index drift report between the
# first and second time-half of the events feed: `value` is histogrammed
# into 10 equal-width bins over its global range, `event_type` is its own
# categorical binning, and PSI = Σ (p−q)·ln(p/q) (smoothed) says whether
# the recent distribution moved — the monitor a training pipeline runs
# before trusting fresh features. Scale: one pass builds the tiny
# (vbin × event_type × half) cube (≤100 cells regardless of row count;
# map-side partials), and both feature legs unpivot from that cube, so
# Spark's ReuseExchange dedups the underlying scan-agg; each PSI term is
# quantized to 1e-9 and summed as DECIMAL (the docs/SCALE.md float-SUM
# discipline).
_PSI_SQL = """
    WITH base AS (
      SELECT {epoch_ts} AS ts_sec, value, event_type FROM events
    ),
    bounds AS (
      SELECT MIN(ts_sec) AS lo, MAX(ts_sec) AS hi,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM base
    ),
    tagged AS (
      SELECT CASE WHEN b.ts_sec * 2 <= d.lo + d.hi THEN 'ref' ELSE 'cur' END AS half,
             CASE WHEN b.value IS NULL THEN CAST(-1 AS BIGINT)
                  WHEN d.vmax > d.vmin THEN least(
                    CAST(floor((b.value - d.vmin) * 10.0e0 / (d.vmax - d.vmin)) AS BIGINT),
                    CAST(9 AS BIGINT))
                  ELSE CAST(0 AS BIGINT) END AS vbin,
             b.event_type
      FROM base b CROSS JOIN bounds d
    ),
    cube0 AS (
      SELECT vbin, event_type, half, CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged GROUP BY vbin, event_type, half
    ),
    legs AS (
      SELECT 'value' AS feature, CAST(vbin AS {STR}) AS bin, half, n FROM cube0
      UNION ALL
      SELECT 'event_type' AS feature, event_type AS bin, half, n FROM cube0
    ),
    cells AS (
      SELECT feature, bin,
             CAST(SUM(CASE WHEN half = 'ref' THEN n ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN half = 'cur' THEN n ELSE 0 END) AS BIGINT) AS n_cur
      FROM legs GROUP BY feature, bin
    ),
    tot AS (
      SELECT feature, CAST(SUM(n_ref) AS BIGINT) AS t_ref,
             CAST(SUM(n_cur) AS BIGINT) AS t_cur,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM cells GROUP BY feature
    ),
    terms AS (
      SELECT c.feature, t.n_bins, t.t_ref, t.t_cur,
             (CAST(c.n_ref AS DOUBLE) + 0.5e0) / (t.t_ref + 0.5e0 * t.n_bins) AS p,
             (CAST(c.n_cur AS DOUBLE) + 0.5e0) / (t.t_cur + 0.5e0 * t.n_bins) AS q
      FROM cells c JOIN tot t ON t.feature = c.feature
    )
    SELECT feature, n_bins, t_ref AS n_rows_ref, t_cur AS n_rows_cur,
           ROUND(CAST(SUM(CAST(ROUND((p - q) * ln(p / q), 9) AS DECIMAL(28, 9)))
                      AS DOUBLE), 6) AS psi
    FROM terms
    GROUP BY feature, n_bins, t_ref, t_cur
    ORDER BY feature
"""


@register(
    "feature_drift_psi",
    oracle=_PSI_SQL.format(
        epoch_ts="CAST(floor(epoch(ts)) AS BIGINT)", STR="VARCHAR",
    ),
)
def feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _PSI_SQL.format(
            epoch_ts="CAST(unix_timestamp(ts) AS BIGINT)", STR="STRING",
        )
    )


# --------------------------------------------------------------------------
# orders_benford_audit — Benford's-law first-digit test over order
# totals, the classic fraud/data-quality screen: observed first-digit
# frequencies vs log10(1 + 1/d). The digit comes from the exact integer
# cents (floor(price·100 + 0.5) → string), never from float log10/pow,
# so both engines bin identically at digit boundaries. Scale: one scan,
# 9-group aggregate, constant-size spine join.
_BENFORD_SQL = """
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                                 AS {STR}), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs),
    spine AS (SELECT CAST(d AS BIGINT) AS digit FROM ({dspine}) s)
    SELECT s.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_obs,
           ROUND(CAST(COALESCE(o.n, 0) AS DOUBLE) / t.t, 6) AS p_obs,
           ROUND(ln(1.0e0 + 1.0e0 / s.digit) / ln(10.0e0), 6) AS p_benford,
           ROUND(CAST(COALESCE(o.n, 0) AS DOUBLE) / t.t
                 - ln(1.0e0 + 1.0e0 / s.digit) / ln(10.0e0), 6) AS deviation
    FROM spine s LEFT JOIN obs o ON o.d = s.digit CROSS JOIN tot t
    ORDER BY s.digit
"""


@register(
    "orders_benford_audit",
    oracle=_BENFORD_SQL.format(
        STR="VARCHAR", dspine="SELECT unnest(generate_series(1, 9)) AS d",
    ),
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _BENFORD_SQL.format(
            STR="STRING", dspine="SELECT explode(sequence(1, 9)) AS d",
        )
    )


# --------------------------------------------------------------------------
# kanonymity_audit — k-anonymity re-identification risk over the
# customer quasi-identifiers (nation, market segment, account-balance
# band): equivalence-class sizes, then for each candidate k threshold
# the classes and row fraction below it — the privacy gate run before a
# table is shared for training. The band uses floor(x/1000), never a
# float→int CAST (DuckDB rounds where Spark truncates). Scale: one
# groupBy on the QI tuple (map-side partials), then a constant 4×classes
# rollup — at 100TB the class census is the only shuffle.
_KANON_SQL = """
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0e0) AS BIGINT) AS acctbal_band,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0e0) AS BIGINT)
    ),
    tot AS (
      SELECT CAST(SUM(k) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(k) AS BIGINT) AS min_k
      FROM classes
    ),
    thr AS (SELECT CAST(t AS BIGINT) AS threshold FROM ({tspine}) s)
    SELECT t.threshold, x.n_rows, x.n_classes, x.min_k,
           CAST(SUM(CASE WHEN c.k < t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below,
           CAST(SUM(CASE WHEN c.k < t.threshold THEN c.k ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           ROUND(CAST(SUM(CASE WHEN c.k < t.threshold THEN c.k ELSE 0 END) AS DOUBLE)
                 / x.n_rows, 6) AS frac_rows_at_risk
    FROM thr t CROSS JOIN classes c CROSS JOIN tot x
    GROUP BY t.threshold, x.n_rows, x.n_classes, x.min_k
    ORDER BY t.threshold
"""


@register(
    "kanonymity_audit",
    oracle=_KANON_SQL.format(tspine="SELECT unnest([2, 5, 10, 20]) AS t"),
)
def kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer")
    return spark.sql(
        _KANON_SQL.format(tspine="SELECT explode(array(2, 5, 10, 20)) AS t")
    )


# --------------------------------------------------------------------------
# cardinality_qerror_audit — optimizer-statistics accuracy study: for
# every observed (orderstatus × orderpriority) conjunction, the row
# count a cost model would ESTIMATE under the attribute-independence
# assumption (n·sel(status)·sel(priority)) vs the ACTUAL count, and the
# q-error = max(est/act, act/est) — the standard metric from the
# cardinality-estimation literature, surfaced as a query so a pipeline
# can decide where independence lies. Scale: ONE scan builds the 15-cell
# pair census; the marginals and total are window sums over those 15
# rows — no second pass, no join.
_QERROR_SQL = """
    WITH act AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_act
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    est AS (
      SELECT o_orderstatus, o_orderpriority, n_act,
             CAST(SUM(n_act) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
               * SUM(n_act) OVER (PARTITION BY o_orderpriority)
               / SUM(n_act) OVER () AS est_rows
      FROM act
    )
    SELECT o_orderstatus, o_orderpriority, n_act,
           ROUND(est_rows, 4) AS est_rows,
           ROUND(greatest(est_rows / n_act, n_act / est_rows), 6) AS q_error
    FROM est
    ORDER BY o_orderstatus, o_orderpriority
"""


@register("cardinality_qerror_audit", oracle=_QERROR_SQL)
def cardinality_qerror_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_QERROR_SQL)


# --------------------------------------------------------------------------
# events_hourly_acf — autocorrelation of the hourly event-count series
# at lags 1..12h: the seasonality detector behind anomaly thresholds and
# capacity planning (a strong lag-24 would say "daily rhythm"; lag-1
# says bursts persist). Missing hours count as ZERO via a dense hour
# spine, which is what makes the ACF honest on sparse feeds. Scale: the
# hour census is bounded by the time span (720 rows/month) no matter the
# row count, so everything after the first groupBy is constant-size;
# centered products are quantized 1e-9 and DECIMAL-summed.
_ACF_SQL = """
    WITH hrs AS (
      SELECT {hr_expr} AS hr FROM events
    ),
    counts0 AS (SELECT hr, CAST(COUNT(*) AS BIGINT) AS c FROM hrs GROUP BY hr),
    bounds AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM counts0),
    spine AS (SELECT {hspine} FROM bounds),
    series AS (
      SELECT s.hr, CAST(COALESCE(c0.c, 0) AS BIGINT) AS c
      FROM spine s LEFT JOIN counts0 c0 ON c0.hr = s.hr
    ),
    mstat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS m
      FROM series
    ),
    denom AS (
      SELECT CAST(SUM(CAST(ROUND((s.c - t.m) * (s.c - t.m), 9) AS DECIMAL(28, 9)))
                  AS DOUBLE) AS ss
      FROM series s CROSS JOIN mstat t
    ),
    lags AS (SELECT CAST(k AS BIGINT) AS lag FROM ({kspine}) t),
    num AS (
      SELECT l.lag,
             CAST(SUM(CAST(ROUND((a.c - t.m) * (b.c - t.m), 9) AS DECIMAL(28, 9)))
                  AS DOUBLE) AS sp,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM lags l
      CROSS JOIN mstat t
      CROSS JOIN series a
      JOIN series b ON b.hr = a.hr + l.lag
      GROUP BY l.lag
    )
    SELECT n.lag, n.n_pairs,
           ROUND(CASE WHEN d.ss > 0 THEN n.sp / d.ss ELSE 0.0e0 END, 6) AS acf
    FROM num n CROSS JOIN denom d
    ORDER BY n.lag
"""


@register(
    "events_hourly_acf",
    oracle=_ACF_SQL.format(
        hr_expr="(CAST(floor(epoch(ts)) AS BIGINT) // 3600)",
        hspine="unnest(generate_series(lo, hi)) AS hr",
        kspine="SELECT unnest(generate_series(1, 12)) AS k",
    ),
)
def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _ACF_SQL.format(
            hr_expr="(CAST(unix_timestamp(ts) AS BIGINT) DIV 3600)",
            hspine="explode(sequence(lo, hi)) AS hr",
            kspine="SELECT explode(sequence(1, 12)) AS k",
        )
    )


# --------------------------------------------------------------------------
# pii_subject_access_report — GDPR/CCPA subject-access footprint: for
# the five most active subjects IN THE EVENTS IDENTITY DOMAIN (event
# count, custkey tie-break), how many rows reference them across orders,
# lineitem (via the order join), and events, plus spend and first/last
# activity — the fan-out a right-to-be-forgotten delete would have to
# touch. Subjects are chosen from events because that is the identity
# space shared across all audited tables: the round-6 vacuousness audit
# found the original heaviest-by-orders subjects (custkeys ~469–1378)
# sit entirely outside the events user range (0–149), so n_events was
# identically 0 and the report never exercised its events leg. Scale:
# the subject list is a 5-row frame, so every per-table leg is a
# broadcast semi-join against its scan; at 100TB the only full shuffle
# is the initial per-user event census (in production, checkpoint the
# subject list once instead of re-deriving per leg as the
# single-statement spelling does).
_SAR_SQL = """
    WITH subjects AS (
      SELECT user_id AS custkey, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
      ORDER BY n_events DESC, custkey LIMIT 5
    ),
    order_fp AS (
      SELECT s.custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18, 2))), 0) AS DOUBLE)
               AS total_spend,
             {fmt_min} AS first_order_at,
             {fmt_max} AS last_order_at
      FROM subjects s LEFT JOIN orders o ON o.o_custkey = s.custkey
      GROUP BY s.custkey
    ),
    li AS (
      SELECT o.o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_lineitems
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN subjects s ON s.custkey = o.o_custkey
      GROUP BY o.o_custkey
    )
    SELECT f.custkey, c.c_name, f.n_orders,
           CAST(COALESCE(li.n_lineitems, 0) AS BIGINT) AS n_lineitems,
           s.n_events,
           f.total_spend, f.first_order_at, f.last_order_at
    FROM subjects s
    JOIN order_fp f ON f.custkey = s.custkey
    JOIN customer c ON c.c_custkey = s.custkey
    LEFT JOIN li ON li.custkey = s.custkey
    ORDER BY s.custkey
"""


@register(
    "pii_subject_access_report",
    oracle=_SAR_SQL.format(
        fmt_min="strftime(MIN(o.o_orderdate), '%Y-%m-%d %H:%M:%S')",
        fmt_max="strftime(MAX(o.o_orderdate), '%Y-%m-%d %H:%M:%S')",
    ),
)
def pii_subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders", "lineitem", "events", "customer")
    return spark.sql(
        _SAR_SQL.format(
            fmt_min="date_format(MIN(o.o_orderdate), 'yyyy-MM-dd HH:mm:ss')",
            fmt_max="date_format(MAX(o.o_orderdate), 'yyyy-MM-dd HH:mm:ss')",
        )
    )


# --------------------------------------------------------------------------
# ivm_incremental_agg — incremental view maintenance: a maintained
# aggregate (orders by priority) is refreshed by merging the staged
# base aggregate with the aggregate of only the DELTA rows (simulated
# as the orderkey%10==0 tenth of the table) through a FULL OUTER JOIN —
# the classic IVM plan that touches delta-sized data instead of
# recomputing the world. The ORACLE is the plain full recompute, so the
# driver check proves the incremental plan equals the from-scratch
# answer. Scale: the base aggregate is group-cardinality-sized state;
# the refresh shuffles only the delta.
_IVM_SPARK_SQL = """
    WITH base AS (
      SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS s
      FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY o_orderpriority
    ),
    delta AS (
      SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS s
      FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_orderpriority
    )
    SELECT COALESCE(b.pr, d.pr) AS o_orderpriority,
           CAST(COALESCE(b.n, 0) + COALESCE(d.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(b.s, CAST(0 AS DECIMAL(18, 2)))
                + COALESCE(d.s, CAST(0 AS DECIMAL(18, 2))) AS DOUBLE) AS total_price
    FROM base b FULL OUTER JOIN delta d ON d.pr = b.pr
    ORDER BY o_orderpriority
"""


@register(
    "ivm_incremental_agg",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_IVM_SPARK_SQL)


# --------------------------------------------------------------------------
# file_skipping_stats — data-skipping effectiveness report: orders is
# bucketed into synthetic "files" of 1024 contiguous orderkeys, per-file
# min/max zone maps are built for orderdate/totalprice/orderkey, and for
# each candidate predicate the report says how many files a zone-map
# reader would SCAN vs SKIP and the true row selectivity — the Parquet
# row-group / Iceberg manifest pruning readout (companion to
# zorder_layout_audit: unsorted columns show ~0 skipping, the clustered
# key shows real pruning). Scale: one scan builds the file census; the
# predicate evaluation runs over files, not rows.
_FSKIP_SQL = """
    WITH files AS (
      SELECT ({fid}) AS file_id,
             MIN(o_orderdate) AS d_lo, MAX(o_orderdate) AS d_hi,
             MIN(o_totalprice) AS p_lo, MAX(o_totalprice) AS p_hi,
             MIN(o_orderkey) AS k_lo, MAX(o_orderkey) AS k_hi,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY ({fid})
    ),
    rowstats AS (
      SELECT CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS m_date,
             CAST(SUM(CASE WHEN o_totalprice >= 250000.0e0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_price,
             CAST(SUM(CASE WHEN o_orderkey >= 12000 THEN 1 ELSE 0 END) AS BIGINT)
               AS m_key,
             CAST(COUNT(*) AS BIGINT) AS n_total
      FROM orders
    ),
    per_pred AS (
      SELECT 'date_recent' AS predicate,
             CAST(SUM(CASE WHEN d_hi >= TIMESTAMP '1999-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(COUNT(*) AS BIGINT) AS files_total
      FROM files
      UNION ALL
      SELECT 'price_high',
             CAST(SUM(CASE WHEN p_hi >= 250000.0e0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM files
      UNION ALL
      SELECT 'key_tail',
             CAST(SUM(CASE WHEN k_hi >= 12000 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM files
    )
    SELECT p.predicate, p.files_total, p.files_scanned,
           ROUND(1.0e0 - CAST(p.files_scanned AS DOUBLE) / p.files_total, 6)
             AS file_skip_fraction,
           CAST(CASE p.predicate WHEN 'date_recent' THEN r.m_date
                WHEN 'price_high' THEN r.m_price ELSE r.m_key END AS BIGINT)
             AS rows_matched,
           ROUND(CAST(CASE p.predicate WHEN 'date_recent' THEN r.m_date
                      WHEN 'price_high' THEN r.m_price ELSE r.m_key END AS DOUBLE)
                 / r.n_total, 6) AS row_selectivity
    FROM per_pred p CROSS JOIN rowstats r
    ORDER BY p.predicate
"""


@register(
    "file_skipping_stats",
    oracle=_FSKIP_SQL.format(fid="o_orderkey // 1024"),
)
def file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_FSKIP_SQL.format(fid="o_orderkey DIV 1024"))


# --------------------------------------------------------------------------
# join_fanout_audit — join-amplification planning report for the
# orders⋈lineitem key: per-key match-count distribution (avg/p50/p90/
# p99/max lineitems per order) and the exact join output cardinality —
# the number that says whether a downstream join explodes and whether
# its skew needs salting. lineitem's orderkeys are a foreign key into
# orders (each key matches exactly one order row), so SUM(per-key count)
# IS the join output size. Scale: one groupBy census on the join key;
# percentiles run over per-key counts, exact on integers in both
# engines.
_FANOUT_SQL = """
    WITH fan AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
           CAST(SUM(n) AS BIGINT) AS join_output_rows,
           CAST(MAX(n) AS BIGINT) AS max_fanout,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS avg_fanout,
           ROUND({p50}, 4) AS p50_fanout,
           ROUND({p90}, 4) AS p90_fanout,
           ROUND({p99}, 4) AS p99_fanout
    FROM fan
"""


@register(
    "join_fanout_audit",
    oracle=_FANOUT_SQL.format(
        p50="quantile_cont(n, 0.5)", p90="quantile_cont(n, 0.9)",
        p99="quantile_cont(n, 0.99)",
    ),
)
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(
        _FANOUT_SQL.format(
            p50="percentile(n, 0.5e0)", p90="percentile(n, 0.9e0)",
            p99="percentile(n, 0.99e0)",
        )
    )


# --------------------------------------------------------------------------
# events_cusum_changepoint — CUSUM level-shift detection over the daily
# event-count series: S_t = Σ(x_i − mean), peak |S_t| marks the most
# likely changepoint. Computed ENTIRELY in integers by scaling by the
# day count (S_t·T = T·Σx_i − t·total), so both engines agree exactly —
# no float mean enters the running sum. Scale: everything after the
# daily census (bounded by the time span) is constant-size; the ordered
# window runs over days, never events.
_CUSUM_SQL = """
    WITH daily AS (
      SELECT ({day_num}) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY ({day_num})
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(n) AS BIGINT) AS total FROM daily
    ),
    cus AS (
      SELECT d.d, d.n,
             CAST(SUM(d.n) OVER (ORDER BY d.d
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * t.t
                  - ROW_NUMBER() OVER (ORDER BY d.d) * t.total AS BIGINT)
               AS cusum_scaled
      FROM daily d CROSS JOIN tot t
    ),
    peak AS (
      SELECT d FROM cus ORDER BY abs(cusum_scaled) DESC, d LIMIT 1
    )
    SELECT c.d AS day_num, c.n AS n_events, c.cusum_scaled,
           CASE WHEN c.d = p.d THEN 1 ELSE 0 END AS is_changepoint
    FROM cus c CROSS JOIN peak p
    ORDER BY c.d
"""


@register(
    "events_cusum_changepoint",
    oracle=_CUSUM_SQL.format(day_num="CAST(floor(epoch(ts)) AS BIGINT) // 86400"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _CUSUM_SQL.format(day_num="CAST(unix_timestamp(ts) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# orders_theilsen_trend — robust (Theil–Sen) revenue trend: the slope is
# the LOWER MEDIAN of all pairwise slopes between monthly revenue
# points, immune to outlier months where OLS isn't
# (discount_elasticity_ols is the companion). The median is an ORDER
# STATISTIC (ROW_NUMBER cut, slope/month tie-break), never an
# interpolated percentile — interpolation arithmetic differs across
# engines on doubles, order statistics cannot. Scale: the month census
# is bounded by the calendar, so the O(months²) pair join is constant
# work regardless of row count.
_THEILSEN_SQL = """
    WITH monthly AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS r
      FROM orders GROUP BY (year(o_orderdate) * 12 + month(o_orderdate))
    ),
    pairs AS (
      SELECT a.m AS mi, b.m AS mj, (b.r - a.r) / (b.m - a.m) AS slope
      FROM monthly a JOIN monthly b ON b.m > a.m
    ),
    ranked AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope, mi, mj) AS rn,
             COUNT(*) OVER () AS np
      FROM pairs
    ),
    fit AS (
      SELECT slope AS ts_slope, CAST(np AS BIGINT) AS n_pairs
      FROM ranked WHERE rn = ({half})
    ),
    resid AS (
      SELECT m.r - f.ts_slope * m.m AS b0, f.ts_slope, f.n_pairs,
             ROW_NUMBER() OVER (ORDER BY m.r - f.ts_slope * m.m, m.m) AS rn,
             COUNT(*) OVER () AS nm
      FROM monthly m CROSS JOIN fit f
    )
    SELECT CAST(nm AS BIGINT) AS n_months, n_pairs,
           ROUND(ts_slope, 6) AS theilsen_slope,
           ROUND(b0, 6) AS theilsen_intercept
    FROM resid WHERE rn = ({mhalf})
"""


@register(
    "orders_theilsen_trend",
    oracle=_THEILSEN_SQL.format(half="(np + 1) // 2", mhalf="(nm + 1) // 2"),
)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _THEILSEN_SQL.format(half="(np + 1) DIV 2", mhalf="(nm + 1) DIV 2")
    )


# --------------------------------------------------------------------------
# referential_integrity_audit — foreign-key health check across the
# warehouse: for each declared relationship, child row count, orphan
# count (children whose parent key does not exist — NOT EXISTS anti
# join, which Catalyst plans as a broadcast anti join when the parent
# is a dimension), and the orphan rate. The audit a pipeline runs
# before trusting inner joins to not silently drop rows. Scale: each
# leg is one scan + an anti join on the key; no windows, no collects.
_RI_SQL = """
    WITH rels AS (
      SELECT 'lineitem.l_orderkey -> orders' AS relationship,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      UNION ALL
      SELECT 'orders.o_custkey -> customer',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'events.user_id -> customer',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = e.user_id))
      UNION ALL
      SELECT 'customer.c_nationkey -> nation',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
    )
    SELECT relationship, n_child, n_orphans,
           ROUND(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
    FROM rels
    ORDER BY relationship
"""


@register("referential_integrity_audit", oracle=_RI_SQL)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "orders", "customer", "events", "nation")
    return spark.sql(_RI_SQL)


# --------------------------------------------------------------------------
# events_forecast_ewma — exponentially-weighted forecast backtest over
# daily event counts with α = 1/2: every weight is a power of two, so
# each term x_i/2^k is EXACT in doubles and both engines' sums are
# bit-identical no matter the order — the trick that makes a recursive
# smoother deterministic cross-engine. The forecast for day t is the
# EWMA through t−1; the report carries per-day absolute percent error
# (the backtest behind alert thresholds). Scale: the O(days²) pair join
# runs on the calendar-bounded day census, never on events.
_EWMA_SQL = """
    WITH daily AS (
      SELECT ({day_num}) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY ({day_num})
    ),
    idx AS (
      SELECT d, n, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t FROM daily
    ),
    ewma AS (
      SELECT b.t, b.d, b.n,
             SUM(a.n / pow(2.0e0, b.t - a.t
                           + CASE WHEN a.t = 1 THEN 0 ELSE 1 END)) AS v
      FROM idx b JOIN idx a ON a.t <= b.t
      GROUP BY b.t, b.d, b.n
    )
    SELECT e.d AS day_num, e.n AS n_events,
           ROUND(e.v, 6) AS ewma,
           ROUND(f.v, 6) AS forecast,
           ROUND(abs(e.n - f.v) / e.n, 6) AS abs_pct_err
    FROM ewma e JOIN ewma f ON f.t = e.t - 1
    ORDER BY e.d
"""


@register(
    "events_forecast_ewma",
    oracle=_EWMA_SQL.format(day_num="CAST(floor(epoch(ts)) AS BIGINT) // 86400"),
)
def events_forecast_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _EWMA_SQL.format(day_num="CAST(unix_timestamp(ts) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# window_range_trailing — RANGE-frame windows (the value-based frame the
# reference's SQL surface gets from DataFusion): per order, the
# customer's trailing-30-day revenue and order count via RANGE BETWEEN
# 30 PRECEDING on the epoch-day axis — a frame that follows event-time
# gaps, not row counts (ROWS frames are wrong when activity is bursty).
# The window SUM runs over DECIMAL (double window aggregation is
# association-order-dependent across engines: segment trees vs running
# sums). Scale: one shuffle on o_custkey; frames are per-customer state.
_RANGE_TRAIL_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             ({day_num}) AS d,
             CAST(o_totalprice AS DECIMAL(18, 2)) AS price
      FROM orders
    )
    SELECT o_orderkey, o_custkey, CAST(d AS BIGINT) AS day_num,
           CAST(SUM(price) OVER (PARTITION BY o_custkey ORDER BY d
                                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_30d_revenue,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
                               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_30d_orders
    FROM base
"""


@register(
    "window_range_trailing",
    oracle=_RANGE_TRAIL_SQL.format(
        day_num="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"
    ),
)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _RANGE_TRAIL_SQL.format(
            day_num="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400"
        )
    )


# --------------------------------------------------------------------------
# agg_grouping_sets — explicit GROUPING SETS with GROUPING() flags (the
# third grouping form next to agg_rollup / agg_cube): revenue at
# (status, priority), (status), and grand-total granularities in one
# pass, with per-column GROUPING() indicators so consumers can
# distinguish "NULL key" from "aggregated over". Scale: Spark expands
# grouping sets into one shuffle keyed by (keys, grouping-id) — map-side
# partials per set, never one scan per granularity.
_GSETS_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


@register("agg_grouping_sets", oracle=_GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_GSETS_SQL)


# --------------------------------------------------------------------------
# interval_attribution_join — interval join via time-bucketing (the
# scale path for a join Spark has no native operator for): for every
# purchase event, how many OTHER events the same user produced in the
# following hour. The Spark spelling expands each 1-hour window to its
# ≤2 covering hour buckets and equi-joins on (user, hour-bucket) before
# the exact inequality filter — a shuffle join on uniform keys instead
# of the quadratic per-user inequality join the naive spelling (and the
# DuckDB ORACLE, which is exactly that naive inequality join) would
# run. Each candidate pair matches on exactly one bucket (the event's
# own hour), so no post-join dedup is needed. Companion to
# asof_join_events_orders / range_join_price_bands.
_IVAL_SPARK_SQL = """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(unix_timestamp(ts) AS BIGINT) AS sec,
             CAST(unix_timestamp(ts) AS BIGINT) DIV 3600 AS hr
      FROM events
    ),
    purchases AS (
      SELECT event_id, user_id, sec FROM ev WHERE event_type = 'purchase'
    ),
    expanded AS (
      SELECT p.event_id, p.user_id, p.sec,
             explode(array(p.sec DIV 3600, p.sec DIV 3600 + 1)) AS bucket
      FROM purchases p
    ),
    hits AS (
      SELECT x.event_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM expanded x
      JOIN ev e ON e.user_id = x.user_id AND e.hr = x.bucket
      WHERE e.sec > x.sec AND e.sec < x.sec + 3600
      GROUP BY x.event_id
    )
    SELECT p.event_id, p.user_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_followup_1h
    FROM purchases p LEFT JOIN hits h ON h.event_id = p.event_id
"""


@register(
    "interval_attribution_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    purchases AS (
      SELECT event_id, user_id, sec FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(SUM(CASE WHEN e.event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_followup_1h
    FROM purchases p
    LEFT JOIN ev e ON e.user_id = p.user_id
                  AND e.sec > p.sec AND e.sec < p.sec + 3600
    GROUP BY p.event_id, p.user_id
    """,
)
def interval_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_IVAL_SPARK_SQL)


# --------------------------------------------------------------------------
# agg_max_by — MAX_BY / MIN_BY aggregate surface (DuckDB arg_max /
# arg_min): per (status, priority) cell, the orderkey of the most- and
# least-expensive order in ONE aggregate pass — the "top row per group
# without a window" spelling. Ties are broken by folding the unique
# orderkey into the ordering key (exact integer cents · 10^5 + key), so
# both engines pick the same row where raw MAX_BY would be
# nondeterministic. Scale: one shuffle on the 15-cell key, map-side
# partials; no window, no second scan.
_MAXBY_SQL = """
    WITH keyed AS (
      SELECT o_orderstatus, o_orderpriority, o_orderkey, o_totalprice,
             CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) * 100000
               + o_orderkey AS ord_key
      FROM orders
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST({maxby}(o_orderkey, ord_key) AS BIGINT) AS top_orderkey,
           CAST({minby}(o_orderkey, ord_key) AS BIGINT) AS bottom_orderkey,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS max_price,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS min_price
    FROM keyed
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
"""


@register(
    "agg_max_by",
    oracle=_MAXBY_SQL.format(maxby="arg_max", minby="arg_min"),
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_MAXBY_SQL.format(maxby="max_by", minby="min_by"))


# --------------------------------------------------------------------------
# events_mad_anomaly — robust burst detection via median absolute
# deviation (the heavy-tail-safe twin of events_hourly_anomaly's
# mean/std z-score, which a single huge burst can mask): per event type,
# hourly counts scored by (c − median) / max(MAD, 1). Median and MAD
# are LOWER-MEDIAN ORDER STATISTICS over integer counts — integers in,
# integers out, so both engines agree exactly with no interpolation or
# float-sum discipline needed. Scale: everything after the hourly
# census (bounded by the time span × types) is constant-size; windows
# run per type over hours, never events.
_MAD_SQL = """
    WITH hourly AS (
      SELECT event_type, ({hr}) AS hr, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, ({hr})
    ),
    ranked AS (
      SELECT event_type, hr, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, hr) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nh
      FROM hourly
    ),
    med AS (
      SELECT event_type, c AS med_c FROM ranked WHERE rn = ((nh + 1) {div} 2)
    ),
    devs AS (
      SELECT h.event_type, h.hr, h.c, m.med_c,
             abs(h.c - m.med_c) AS dev,
             ROW_NUMBER() OVER (PARTITION BY h.event_type
                                ORDER BY abs(h.c - m.med_c), h.hr) AS rn,
             COUNT(*) OVER (PARTITION BY h.event_type) AS nh
      FROM hourly h JOIN med m ON m.event_type = h.event_type
    ),
    mad AS (
      SELECT event_type, dev AS mad_c FROM devs WHERE rn = ((nh + 1) {div} 2)
    )
    SELECT h.event_type, CAST(h.hr AS BIGINT) AS hr,
           h.c AS n_events, m.med_c AS median_n, d.mad_c AS mad_n,
           ROUND(CAST(h.c - m.med_c AS DOUBLE) / greatest(d.mad_c, 1), 4)
             AS robust_z
    FROM hourly h
    JOIN med m ON m.event_type = h.event_type
    JOIN mad d ON d.event_type = h.event_type
    ORDER BY abs(ROUND(CAST(h.c - m.med_c AS DOUBLE) / greatest(d.mad_c, 1), 4)) DESC,
             h.event_type, h.hr
    LIMIT 20
"""


@register(
    "events_mad_anomaly",
    oracle=_MAD_SQL.format(hr="CAST(floor(epoch(ts)) AS BIGINT) // 3600", div="//"),
)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _MAD_SQL.format(hr="CAST(unix_timestamp(ts) AS BIGINT) DIV 3600", div="DIV")
    )


# --------------------------------------------------------------------------
# events_sessionize_capped — gap-based sessions with a MAX-DURATION cap
# (the production variant of events_sessionize: a 30-min inactivity gap
# starts a new session, and any session is additionally split at 20-min
# boundaries so a scripted always-on client can't produce unbounded
# sessions). The cap is 1200 s — below this feed's longest gap-islands
# (max 3396 s, 146 islands over 1200 s at sf0.01) so the split
# mechanism demonstrably fires; the round-6 vacuousness audit found the
# original 4-hour cap never triggered (is_cap_split identically 0 — the
# query was indistinguishable from plain sessionize on this data).
# Pure window composition: island detection (LAG + running
# SUM) then an integer sub-session key from the island start — no
# iteration, everything on the one user_id shuffle; all arithmetic is
# integer so both engines agree exactly.
_SESS_CAP_SQL = """
    WITH ordered AS (
      SELECT user_id, event_id, ({epoch}) AS sec FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, sec,
             CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id
                                            ORDER BY sec, event_id) > 1800
                   OR LAG(sec) OVER (PARTITION BY user_id
                                     ORDER BY sec, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    islands AS (
      SELECT user_id, event_id, sec,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS island
      FROM flagged
    ),
    capped AS (
      SELECT user_id, island, sec,
             CAST((sec - MIN(sec) OVER (PARTITION BY user_id, island)) {div} 1200
                  AS BIGINT) AS segment
      FROM islands
    )
    SELECT user_id, island, segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(sec) AS BIGINT) AS start_sec,
           CAST(MAX(sec) AS BIGINT) AS end_sec,
           CAST(MAX(sec) - MIN(sec) AS BIGINT) AS duration_sec,
           CAST(CASE WHEN segment > 0 THEN 1 ELSE 0 END AS INT) AS is_cap_split
    FROM capped
    GROUP BY user_id, island, segment
    ORDER BY user_id, island, segment
"""


@register(
    "events_sessionize_capped",
    oracle=_SESS_CAP_SQL.format(epoch="CAST(floor(epoch(ts)) AS BIGINT)", div="//"),
)
def events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _SESS_CAP_SQL.format(epoch="CAST(unix_timestamp(ts) AS BIGINT)", div="DIV")
    )


# --------------------------------------------------------------------------
# events_funnel_latency — time-to-convert distribution for the
# signup→purchase funnel: per user, first signup and first purchase AT
# OR AFTER it; the report is conversion rate plus p50/p90 latency as
# ORDER STATISTICS over integer seconds (ceil-index formula in integer
# math — no percentile interpolation, exact across engines). The
# product-analytics companion to events_funnel, which counts stage
# survivors but not how long conversion took. Scale: two user-keyed
# aggregates; the latency ranking runs over converted users only.
_FUNNEL_LAT_SQL = """
    WITH s AS (
      SELECT user_id, MIN({epoch}) AS s_sec
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN({epoch}) AS p_sec
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND ({epoch}) >= s.s_sec
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT s.user_id, CAST(p.p_sec - s.s_sec AS BIGINT) AS latency_sec
      FROM s JOIN p ON p.user_id = s.user_id
    ),
    ranked AS (
      SELECT latency_sec,
             ROW_NUMBER() OVER (ORDER BY latency_sec, user_id) AS rn,
             COUNT(*) OVER () AS nc
      FROM lat
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signups FROM s)
    SELECT t.n_signups,
           CAST(MAX(r.nc) AS BIGINT) AS n_converted,
           ROUND(CAST(MAX(r.nc) AS DOUBLE) / t.n_signups, 6) AS conversion_rate,
           CAST(MAX(CASE WHEN r.rn = ((r.nc + 1) {div} 2)
                         THEN r.latency_sec END) AS BIGINT) AS p50_latency_sec,
           CAST(MAX(CASE WHEN r.rn = ((9 * r.nc + 9) {div} 10)
                         THEN r.latency_sec END) AS BIGINT) AS p90_latency_sec
    FROM ranked r CROSS JOIN tot t
    GROUP BY t.n_signups
"""


@register(
    "events_funnel_latency",
    oracle=_FUNNEL_LAT_SQL.format(epoch="CAST(floor(epoch(ts)) AS BIGINT)", div="//"),
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _FUNNEL_LAT_SQL.format(epoch="CAST(unix_timestamp(ts) AS BIGINT)", div="DIV")
    )


# --------------------------------------------------------------------------
# customer_spend_gini — revenue-concentration (inequality) report: the
# exact Gini coefficient of per-customer spend via the rank formula
# G = 2·Σ i·xᵢ / (n·Σxᵢ) − (n+1)/n over the sorted spend census.
# Spend is exact integer cents; the rank-weighted sum accumulates as
# DECIMAL(38,0) (each i·cents term fits BIGINT, their sum does not).
# Scale: the ordered window runs over the CUSTOMER-GRAIN census
# (dimension-bounded, the parts_abc_classification pattern), never
# order rows.
_GINI_SQL = """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(CAST(cents AS DECIMAL(38, 0))) AS DOUBLE) / 100.0e0
                AS DOUBLE) AS total_spend,
           ROUND(CASE WHEN SUM(CAST(cents AS DECIMAL(38, 0))) > 0
                      THEN 2.0e0 * CAST(SUM(CAST(i * cents AS DECIMAL(38, 0))) AS DOUBLE)
                           / (MAX(n) * CAST(SUM(CAST(cents AS DECIMAL(38, 0))) AS DOUBLE))
                           - CAST(MAX(n) + 1 AS DOUBLE) / MAX(n)
                      ELSE 0.0e0 END, 6) AS gini
    FROM ranked
"""


@register("customer_spend_gini", oracle=_GINI_SQL)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark side: the rank i in the Gini rank formula comes from the
    # distributed two-pass (_exact_rank_stage), never a single-partition
    # ROW_NUMBER over the whole customer census. The i*cents moments are
    # integer-exact, so bucketed ranks + one aggregate reproduce the
    # oracle's global-window spelling bit for bit.
    (orders,) = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked, n, _ = _exact_rank_stage(
        spark, sf_dir, "gini_rank", spend, "cents", "o_custkey", desc=False
    )
    sum_c = F.sum(F.col("cents").cast("decimal(38,0)"))
    sum_ic = F.sum((F.col("_rank") * F.col("cents")).cast("decimal(38,0)"))
    return ranked.agg(
        F.lit(n).cast("bigint").alias("n_customers"),
        (sum_c.cast("double") / F.lit(100.0)).cast("double").alias("total_spend"),
        F.round(
            F.when(
                sum_c > 0,
                F.lit(2.0) * sum_ic.cast("double") / (F.lit(n) * sum_c.cast("double"))
                - (F.lit(n) + F.lit(1)).cast("double") / F.lit(n),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# bloom_semijoin_prune — runtime-filter effectiveness audit: a 4096-bit
# Bloom filter (3 md5 hashes) is built over the BUILDING-segment
# customer keys and probed by every order; the report compares
# bloom-pass counts against exact semi-join membership to give the
# false-positive rate — the measurement behind sizing Spark's own
# runtime row-level filters (and the reason a too-small filter makes a
# "pruned" join scan almost everything anyway). The position set is
# tiny and broadcasts; each probe is a 3-row expansion + broadcast
# join, so the fact side never shuffles. Companion to
# dedup_bloom_incremental (which uses the bitset for dedup state).
_BLOOM_PRUNE_SQL = """
    WITH keys AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    positions AS (
      SELECT DISTINCT ({h}) % 4096 AS pos
      FROM keys CROSS JOIN ({jspine}) j
    ),
    probes AS (
      SELECT o.o_orderkey, o.o_custkey, j.j,
             ({hp}) % 4096 AS pos
      FROM orders o CROSS JOIN ({jspine}) j
    ),
    pass AS (
      SELECT o_orderkey, o_custkey,
             CAST(SUM(CASE WHEN p2.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
      FROM probes p LEFT JOIN positions p2 ON p2.pos = p.pos
      GROUP BY o_orderkey, o_custkey
    ),
    flags AS (
      SELECT ps.o_orderkey,
             CAST(CASE WHEN ps.n_hit = 3 THEN 1 ELSE 0 END AS INT) AS bloom_pass,
             CAST(CASE WHEN k.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS is_member
      FROM pass ps LEFT JOIN keys k ON k.c_custkey = ps.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN bloom_pass = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN bloom_pass = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / greatest(COUNT(*) - SUM(is_member), 1), 6) AS false_pos_rate,
           ROUND(1.0e0 - CAST(SUM(bloom_pass) AS DOUBLE) / COUNT(*), 6)
             AS prune_fraction
    FROM flags
"""


def _bloom_prune_sql(hash_expr_key: str, hash_expr_probe: str, jspine: str) -> str:
    return _BLOOM_PRUNE_SQL.format(h=hash_expr_key, hp=hash_expr_probe, jspine=jspine)


@register(
    "bloom_semijoin_prune",
    oracle=_bloom_prune_sql(
        "CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)",
        "CAST('0x' || substring(md5(CAST(o.o_custkey AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)",
        "SELECT unnest(generate_series(1, 3)) AS j",
    ),
)
def bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer", "orders")
    return spark.sql(
        _bloom_prune_sql(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING) || '_' || CAST(j.j AS STRING)), 1, 8), 16, 10) AS BIGINT)",
            "CAST(conv(substring(md5(CAST(o.o_custkey AS STRING) || '_' || CAST(j.j AS STRING)), 1, 8), 16, 10) AS BIGINT)",
            "SELECT explode(sequence(1, 3)) AS j",
        )
    )


# --------------------------------------------------------------------------
# column_histogram_report — optimizer-statistics histograms: 8 equal-
# width bins for each numeric events column (value, user_id) from one
# bounds pass + one cube pass, unpivoted per column — the equi-width
# companion to table_profile_stats (null/distinct) and
# quantile_sketch_orders (equi-depth). Bin edges derive from global
# min/max with identical float ops in both engines; the -1 bin carries
# NULLs. Scale: two scans total (bounds, cube), map-side partials, the
# report is columns × 9 rows.
_COLHIST_SQL = """
    WITH bounds AS (
      SELECT MIN(value) AS v_lo, MAX(value) AS v_hi,
             CAST(MIN(user_id) AS DOUBLE) AS u_lo, CAST(MAX(user_id) AS DOUBLE) AS u_hi
      FROM events
    ),
    binned AS (
      SELECT CASE WHEN e.value IS NULL THEN CAST(-1 AS BIGINT)
                  WHEN b.v_hi > b.v_lo THEN least(
                    CAST(floor((e.value - b.v_lo) * 8.0e0 / (b.v_hi - b.v_lo)) AS BIGINT),
                    CAST(7 AS BIGINT))
                  ELSE CAST(0 AS BIGINT) END AS vbin,
             CASE WHEN e.user_id IS NULL THEN CAST(-1 AS BIGINT)
                  WHEN b.u_hi > b.u_lo THEN least(
                    CAST(floor((e.user_id - b.u_lo) * 8.0e0 / (b.u_hi - b.u_lo)) AS BIGINT),
                    CAST(7 AS BIGINT))
                  ELSE CAST(0 AS BIGINT) END AS ubin
      FROM events e CROSS JOIN bounds b
    ),
    cube0 AS (
      SELECT vbin, ubin, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY vbin, ubin
    ),
    legs AS (
      SELECT 'value' AS column_name, vbin AS bin, n FROM cube0
      UNION ALL
      SELECT 'user_id', ubin, n FROM cube0
    )
    SELECT column_name, CAST(bin AS BIGINT) AS bin,
           CAST(SUM(n) AS BIGINT) AS n_rows
    FROM legs
    GROUP BY column_name, bin
    ORDER BY column_name, bin
"""


@register("column_histogram_report", oracle=_COLHIST_SQL)
def column_histogram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_COLHIST_SQL)


# --------------------------------------------------------------------------
# orders_duplicate_payment_audit — duplicate/suspicious-payment screen
# (the classic AP-audit query): orders by the SAME customer in the SAME
# $100 amount band are sequenced per (customer, band) and every
# adjacent pair is reported with its day gap and a severity flag
# (within 365 days = review, within 180 = urgent — thresholds sized to
# this order book's same-band gap distribution of 31–1767 days; the
# round-6 vacuousness audit found the original 30/7-day bands below the
# minimum observed gap, leaving severity identically 0). Banding is
# exact integer math (floor of cents/10000), so both engines bucket
# identically. Scale: one groupable window on the (custkey, band) key —
# no self-join; pairs come from LAG on the already-sorted group.
_DUP_PAY_SQL = """
    WITH keyed AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) {div} 10000
               AS amount_band,
             ({day}) AS d
      FROM orders
    ),
    seq AS (
      SELECT o_orderkey, o_custkey, amount_band, o_totalprice, d,
             LAG(o_orderkey) OVER (PARTITION BY o_custkey, amount_band
                                   ORDER BY d, o_orderkey) AS prev_key,
             LAG(d) OVER (PARTITION BY o_custkey, amount_band
                          ORDER BY d, o_orderkey) AS prev_d
      FROM keyed
    )
    SELECT o_custkey, amount_band,
           prev_key AS first_orderkey, o_orderkey AS second_orderkey,
           CAST(d - prev_d AS BIGINT) AS gap_days,
           CAST(CASE WHEN d - prev_d <= 180 THEN 2
                     WHEN d - prev_d <= 365 THEN 1 ELSE 0 END AS INT) AS severity
    FROM seq
    WHERE prev_key IS NOT NULL
    ORDER BY o_custkey, amount_band, second_orderkey
"""


@register(
    "orders_duplicate_payment_audit",
    oracle=_DUP_PAY_SQL.format(
        div="//", day="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"
    ),
)
def orders_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _DUP_PAY_SQL.format(
            div="DIV", day="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400"
        )
    )


# --------------------------------------------------------------------------
# orders_backlog_aging — open-order backlog aging report: orders still
# in status 'O' bucketed by age (days since order date, as of the
# corpus max date) into 0-30 / 31-90 / 91-365 / 365+ bands, with counts
# and value at risk — the operations dashboard every warehouse runs.
# Scale: one scan + a constant-size rollup; the anchor date is a scalar
# aggregate, never a driver collect.
_BACKLOG_SQL = """
    WITH anchor AS (SELECT MAX({day}) AS today FROM orders),
    open_orders AS (
      SELECT CAST(a.today - ({day}) AS BIGINT) AS age_days,
             CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      FROM orders o CROSS JOIN anchor a
      WHERE o_orderstatus = 'O'
    ),
    bucketed AS (
      SELECT CASE WHEN age_days <= 30 THEN '0-30'
                  WHEN age_days <= 90 THEN '31-90'
                  WHEN age_days <= 365 THEN '91-365'
                  ELSE '365+' END AS age_bucket,
             age_days, cents
      FROM open_orders
    )
    SELECT age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(cents AS DECIMAL(38, 0))) AS DOUBLE) / 100.0e0
                AS DOUBLE) AS open_value,
           CAST(MAX(age_days) AS BIGINT) AS max_age_days
    FROM bucketed
    GROUP BY age_bucket
    ORDER BY age_bucket
"""


@register(
    "orders_backlog_aging",
    oracle=_BACKLOG_SQL.format(day="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"),
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _BACKLOG_SQL.format(day="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# events_decayed_popularity — exponentially time-decayed popularity per
# event type (half-life 7 days, anchored at the corpus max day): the
# ranking a recommender/trending surface actually serves, where last
# week counts double this month. Each weight 2^(−age/7) is quantized to
# 1e-9 and DECIMAL-summed (the docs/SCALE.md float discipline — pow is
# transcendental, so raw double sums would drift across engines).
# Scale: weights are map-side; one shuffle on the 5-value type key.
_DECAY_SQL = """
    WITH anchor AS (SELECT MAX({day}) AS today FROM events),
    weighted AS (
      SELECT e.event_type,
             CAST(ROUND(pow(2.0e0, -CAST(a.today - ({day}) AS DOUBLE) / 7.0e0), 9)
                  AS DECIMAL(28, 9)) AS w
      FROM events e CROSS JOIN anchor a
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(w) AS DOUBLE), 6) AS decayed_count,
           CAST(ROW_NUMBER() OVER (ORDER BY SUM(w) DESC, event_type) AS BIGINT)
             AS decayed_rank
    FROM weighted
    GROUP BY event_type
    ORDER BY decayed_rank
"""


@register(
    "events_decayed_popularity",
    oracle=_DECAY_SQL.format(day="CAST(floor(epoch(ts)) AS BIGINT) // 86400"),
)
def events_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _DECAY_SQL.format(day="CAST(unix_timestamp(ts) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# orders_perfect_rate — perfect-order KPI per priority: an order is
# "perfect" when every lineitem shipped within 30 days of the order
# date and nothing was returned — the composite supply-chain metric
# built from per-order min/max over the lineitem join (one orderkey
# shuffle, map-side partials), then a constant-size priority rollup.
# Day math is integer (epoch-day subtraction), never a float date diff.
_PERFECT_SQL = """
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             MAX(({l_day}) - ({o_day})) AS max_ship_days,
             MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS any_return
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN max_ship_days <= 30 AND any_return = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect,
           ROUND(CAST(SUM(CASE WHEN max_ship_days <= 30 AND any_return = 0
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS perfect_rate,
           CAST(MAX(max_ship_days) AS BIGINT) AS worst_ship_days
    FROM per_order
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register(
    "orders_perfect_rate",
    oracle=_PERFECT_SQL.format(
        l_day="CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400",
        o_day="CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400",
    ),
)
def orders_perfect_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        _PERFECT_SQL.format(
            l_day="CAST(unix_timestamp(l.l_shipdate) AS BIGINT) DIV 86400",
            o_day="CAST(unix_timestamp(o.o_orderdate) AS BIGINT) DIV 86400",
        )
    )


# --------------------------------------------------------------------------
# events_anova_value — one-way ANOVA of event value across event types:
# between-group vs within-group variance and the F statistic. Values
# are cents-exact integers (floor(v·100+0.5)), so every sufficient
# statistic (n, Σx, Σx²) is an exact DECIMAL(38,0) integer and both
# engines produce bit-identical F from identical double arithmetic —
# no float-sum discipline needed at all. Scale: one pass of map-side
# partials into a 5-group rollup.
_ANOVA_SQL = """
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c AS DECIMAL(38, 0))) AS s,
             SUM(CAST(c * c AS DECIMAL(38, 0))) AS ss
      FROM cents GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s) AS DOUBLE) AS st, CAST(SUM(ss) AS DOUBLE) AS sst,
             CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                 / n, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sum_sq_over_n
      FROM g
    )
    SELECT nt AS n_rows, k AS n_groups,
           floor((sum_sq_over_n - st * st / nt) / 10000.0e0
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS ss_between,
           floor((sst - sum_sq_over_n) / 10000.0e0
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS ss_within,
           floor(CASE WHEN k > 1 AND nt > k AND (sst - sum_sq_over_n) > 0
                      THEN ((sum_sq_over_n - st * st / nt) / (k - 1))
                           / ((sst - sum_sq_over_n) / (nt - k))
                      ELSE 0.0e0 END * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS f_stat
    FROM tot
"""
# Output quantization is the half-boundary-safe floor(x*10^k + 0.5)/10^k
# house spelling (CLAUDE.md): hypothesis found a random events table
# whose ss_between landed EXACTLY on a 4dp half boundary (…67135) and
# split Spark's BigDecimal-HALF_UP from DuckDB's round — all three
# output stats are ratio-derived non-negative doubles, the class the
# rule covers; pure double arithmetic on identical inputs cannot
# diverge cross-engine. (Bound: Spark's floor(double) returns BIGINT,
# so the spelling holds while x*10^k < 2^63 — fine for these /1e4-scaled
# stats at any tested SF.) The INNER 9dp quantization of s*s/n keeps
# ROUND: its magnitude (~1e10+ at sf0.01) makes x*1e9 overflow the
# BIGINT floor, and at that magnitude the double's ulp exceeds 1e-9 so
# a 9dp half-boundary hit cannot occur.


@register("events_anova_value", oracle=_ANOVA_SQL)
def events_anova_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_ANOVA_SQL)


# --------------------------------------------------------------------------
# events_ks_test — exact two-sample Kolmogorov–Smirnov distance between
# the purchase and view value distributions: D = max |F₁ − F₂| computed
# ENTIRELY in integers (cumulative counts cross-multiplied by the other
# sample's size as DECIMAL(38,0) — no float enters until the final
# division), so both engines agree exactly; the asymptotic p-value is
# the single transcendental at the end. Scale: the ordered window runs
# over the VALUE-CENTS census (bounded by the price grid, ~49k cells
# regardless of row count), never over events.
_KS_SQL = """
    WITH vals AS (
      SELECT event_type, CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS c
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    census AS (
      SELECT c,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM vals GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM census),
    cum AS (
      SELECT c,
             CAST(SUM(a) OVER (ORDER BY c
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS ca,
             CAST(SUM(b) OVER (ORDER BY c
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cb
      FROM census
    ),
    d AS (
      SELECT CAST(MAX(abs(CAST(cm.ca AS DECIMAL(38, 0)) * t.nb
                          - CAST(cm.cb AS DECIMAL(38, 0)) * t.na)) AS DOUBLE) AS dscaled,
             MAX(t.na) AS na, MAX(t.nb) AS nb
      FROM cum cm CROSS JOIN tot t
    )
    SELECT CAST(na AS BIGINT) AS n_purchase, CAST(nb AS BIGINT) AS n_view,
           ROUND(CASE WHEN na > 0 AND nb > 0
                      THEN dscaled / (CAST(na AS DOUBLE) * nb) ELSE 0.0e0 END, 6) AS ks_d,
           ROUND(CASE WHEN na > 0 AND nb > 0
                      THEN least(2.0e0 * exp(-2.0e0
                           * pow(dscaled / (CAST(na AS DOUBLE) * nb), 2)
                           * (CAST(na AS DOUBLE) * nb) / (na + nb)), 1.0e0)
                      ELSE 1.0e0 END, 6) AS p_asymptotic
    FROM d
"""


@register("events_ks_test", oracle=_KS_SQL)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_KS_SQL)


# --------------------------------------------------------------------------
# supplier_scorecard — composite supplier-performance table: per
# supplier, shipped volume, revenue, return rate, and late-shipment
# rate (shipped >30 days after order), rolled into a 0-100 score
# (60% on-time + 40% return-free, integer-weighted before the final
# divide so both engines agree). The vendor-management readout built
# from one lineitem⋈orders fact join (orderkey shuffle) + a broadcast
# supplier dim join. Top-20 worst suppliers by score, key tie-break.
_SCORECARD_SQL = """
    WITH li AS (
      SELECT l.l_suppkey,
             CAST(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT) AS ret,
             CAST(CASE WHEN ({l_day}) - ({o_day}) > 30 THEN 1 ELSE 0 END AS BIGINT)
               AS late,
             CAST(l.l_extendedprice AS DECIMAL(18, 2)) AS price
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per_supp AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n_lineitems,
             CAST(SUM(ret) AS BIGINT) AS n_returns,
             CAST(SUM(late) AS BIGINT) AS n_late,
             CAST(SUM(price) AS DOUBLE) AS revenue
      FROM li GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, p.n_lineitems, p.n_returns, p.n_late,
           ROUND(p.revenue, 2) AS revenue,
           ROUND(CAST(p.n_returns AS DOUBLE) / p.n_lineitems, 6) AS return_rate,
           ROUND(CAST(p.n_late AS DOUBLE) / p.n_lineitems, 6) AS late_rate,
           ROUND(CAST(60 * (p.n_lineitems - p.n_late)
                      + 40 * (p.n_lineitems - p.n_returns) AS DOUBLE)
                 / p.n_lineitems, 4) AS score
    FROM per_supp p JOIN supplier s ON s.s_suppkey = p.l_suppkey
    ORDER BY score, s.s_suppkey
    LIMIT 20
"""


@register(
    "supplier_scorecard",
    oracle=_SCORECARD_SQL.format(
        l_day="CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400",
        o_day="CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400",
    ),
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "orders", "supplier")
    return spark.sql(
        _SCORECARD_SQL.format(
            l_day="CAST(unix_timestamp(l.l_shipdate) AS BIGINT) DIV 86400",
            o_day="CAST(unix_timestamp(o.o_orderdate) AS BIGINT) DIV 86400",
        )
    )


# --------------------------------------------------------------------------
# part_price_dispersion — sourcing-opportunity report: per part TYPE,
# how widely retail prices disperse across brands (min / lower-median /
# max in exact cents, max/min ratio, brand count). High dispersion =
# renegotiation or substitution opportunity. The median is an order
# statistic over the type's parts (exact integers, no interpolation).
# Scale: one groupBy on p_type with a per-type rank window over the
# dimension-sized part table.
_DISPERSION_SQL = """
    WITH priced AS (
      SELECT p_type, p_partkey, p_brand,
             CAST(floor(p_retailprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      FROM part
    ),
    ranked AS (
      SELECT p_type, cents,
             ROW_NUMBER() OVER (PARTITION BY p_type ORDER BY cents, p_partkey) AS rn,
             COUNT(*) OVER (PARTITION BY p_type) AS np
      FROM priced
    ),
    med AS (
      SELECT p_type, cents AS med_cents FROM ranked WHERE rn = ((np + 1) {div} 2)
    ),
    stats AS (
      SELECT p_type,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
             CAST(MIN(cents) AS BIGINT) AS min_c,
             CAST(MAX(cents) AS BIGINT) AS max_c
      FROM priced GROUP BY p_type
    )
    SELECT s.p_type, s.n_parts, s.n_brands,
           ROUND(CAST(s.min_c AS DOUBLE) / 100.0e0, 2) AS min_price,
           ROUND(CAST(m.med_cents AS DOUBLE) / 100.0e0, 2) AS median_price,
           ROUND(CAST(s.max_c AS DOUBLE) / 100.0e0, 2) AS max_price,
           ROUND(CAST(s.max_c AS DOUBLE) / greatest(s.min_c, 1), 4)
             AS dispersion_ratio
    FROM stats s JOIN med m ON m.p_type = s.p_type
    ORDER BY s.p_type
"""


@register(
    "part_price_dispersion",
    oracle=_DISPERSION_SQL.format(div="//"),
)
def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part")
    return spark.sql(_DISPERSION_SQL.format(div="DIV"))


# --------------------------------------------------------------------------
# events_user_predictability — behavioral predictability score: the
# Shannon entropy of each user's event-type TRANSITION distribution
# (LAG pairs, like events_markov_transitions but per user): near-zero
# entropy = scripted/looping behavior (the complement of
# events_bot_score's timing signals), high entropy = diverse organic
# use. Integer transition counts with the c·ln(c) terms quantized to
# 1e-9 and DECIMAL-summed (the text_entropy_score discipline). The flag
# threshold (4.2 bits) sits at this feed's bottom decile — transition
# entropy here spans 4.03–4.57 bits (near-uniform synthetic behavior),
# so the original < 1.0 bit threshold could never fire
# (low_entropy_flag was identically 0, round-6 vacuousness audit).
# Scale: one LAG window + one (user, pair) census on the user_id
# shuffle.
_PREDICT_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT user_id, prev_type, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY user_id, prev_type, event_type
    ),
    agg AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_transitions,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_pairs,
             CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
                           AS DECIMAL(28, 9))) AS DOUBLE) AS clogc
      FROM pairs GROUP BY user_id
    )
    SELECT user_id, n_transitions, n_distinct_pairs,
           ROUND((ln(CAST(n_transitions AS DOUBLE)) - clogc / n_transitions)
                 / ln(2.0e0), 6) AS transition_entropy_bits,
           CAST(CASE WHEN n_transitions >= 20
                      AND (ln(CAST(n_transitions AS DOUBLE)) - clogc / n_transitions)
                          / ln(2.0e0) < 4.2e0
                     THEN 1 ELSE 0 END AS INT) AS low_entropy_flag
    FROM agg
"""


@register("events_user_predictability", oracle=_PREDICT_SQL)
def events_user_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_PREDICT_SQL)


# --------------------------------------------------------------------------
# customer_credit_exposure — credit-risk rollup: customers with a
# NEGATIVE account balance who still have OPEN ('O') orders, aggregated
# per nation — exposed customer count, their open-order value, and the
# worst single balance. The receivables report finance runs weekly.
# Scale: a filtered customer dim (broadcast) semi-joins the open-order
# scan; one nation-keyed rollup.
_CREDIT_SQL = """
    WITH risky AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer WHERE c_acctbal < 0
    ),
    exposure AS (
      SELECT r.c_nationkey, r.c_custkey, r.c_acctbal,
             SUM(CAST(o.o_totalprice AS DECIMAL(18, 2))) AS open_value
      FROM risky r JOIN orders o ON o.o_custkey = r.c_custkey
      WHERE o.o_orderstatus = 'O'
      GROUP BY r.c_nationkey, r.c_custkey, r.c_acctbal
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_exposed_customers,
           CAST(SUM(e.open_value) AS DOUBLE) AS open_order_value,
           ROUND(MIN(e.c_acctbal), 2) AS worst_balance
    FROM exposure e JOIN nation n ON n.n_nationkey = e.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
"""


@register("customer_credit_exposure", oracle=_CREDIT_SQL)
def customer_credit_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer", "orders", "nation")
    return spark.sql(_CREDIT_SQL)


# --------------------------------------------------------------------------
# events_weekday_profile — day-of-week × activity profile: counts, mean
# value (cents-exact), and share of weekly traffic per weekday, with
# the weekday from pure integer epoch-day arithmetic ((d + 4) % 7 maps
# 1970-01-01 Thursday → 0=Monday identically in both engines — never a
# locale-dependent DAYOFWEEK). The staffing/capacity profile behind
# weekly seasonality. Scale: one scan into a 7-key rollup.
_WEEKDAY_SQL = """
    WITH base AS (
      SELECT (({day}) + 3) % 7 AS dow,
             CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    per_dow AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(cents AS DECIMAL(38, 0))) AS s
      FROM base GROUP BY dow
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS nt FROM per_dow)
    SELECT CAST(p.dow AS BIGINT) AS weekday,
           p.n_events,
           ROUND(CAST(p.s AS DOUBLE) / 100.0e0 / p.n_events, 4) AS avg_value,
           ROUND(CAST(p.n_events AS DOUBLE) / t.nt, 6) AS traffic_share
    FROM per_dow p CROSS JOIN tot t
    ORDER BY weekday
"""


@register(
    "events_weekday_profile",
    oracle=_WEEKDAY_SQL.format(day="CAST(floor(epoch(ts)) AS BIGINT) // 86400"),
)
def events_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _WEEKDAY_SQL.format(day="CAST(unix_timestamp(ts) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# orders_snapshot_asof — lakehouse time travel: reconstruct the table
# state AS OF a cutoff day from a versioned change history (the read
# side of Delta/Iceberg snapshot queries, consuming the
# orders_cdc_changelog shape). Deterministic synthetic history from ONE
# scan: v1 at the orderdate; keys divisible by 3 gain a +10% repricing
# 30 days later; keys divisible by 7 a delete 60 days later — built as
# a per-row version ARRAY and exploded (never one scan per version).
# Scale: latest-version-per-key is a window PARTITIONED BY orderkey
# (the natural shuffle key); no global window, no self-join.
def _sql_snapshot_asof(mkrow, empty, unnest_from, idiv, day):
    def row(ver, dday, op, cents):
        return mkrow.format(ver=ver, dday=dday, op=op, cents=cents)

    asof = day.format(x="DATE '1996-06-01'")
    return f"""
    WITH base AS (
      SELECT o_orderkey,
             {day.format(x='o_orderdate')} AS d0,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    history AS (
      SELECT o_orderkey,
             {row(1, 'd0', "'U'", 'cents')}
             || CASE WHEN o_orderkey % 3 = 0
                     THEN {row(2, 'd0 + 30', "'U'", f'(cents * 110 + 50) {idiv} 100')}
                     ELSE {empty} END
             || CASE WHEN o_orderkey % 7 = 0
                     THEN {row(3, 'd0 + 60', "'D'", '0')}
                     ELSE {empty} END AS versions
      FROM base
    ),
    exploded AS (
      SELECT o_orderkey, v.ver AS ver, v.vday AS vday, v.op AS op, v.cents AS cents
      FROM ({unnest_from}) x
    ),
    visible AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY vday DESC, ver DESC) AS rn
      FROM exploded WHERE vday <= {asof}
    )
    SELECT o_orderkey,
           CAST(ver AS BIGINT) AS version,
           CAST(vday AS BIGINT) AS valid_day,
           CAST(cents AS DOUBLE) / 100 AS price
    FROM visible
    WHERE rn = 1 AND op <> 'D'
"""


@register(
    "orders_snapshot_asof",
    oracle=_sql_snapshot_asof(
        mkrow="[{{'ver': {ver}, 'vday': {dday}, 'op': {op}, 'cents': {cents}}}]",
        empty="CAST([] AS STRUCT(ver INT, vday BIGINT, op VARCHAR, cents BIGINT)[])",
        unnest_from="SELECT o_orderkey, unnest(versions) AS v FROM history",
        idiv="//",
        day="date_diff('day', DATE '1970-01-01', CAST({x} AS DATE))",
    ),
)
def orders_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _sql_snapshot_asof(
            mkrow="array(named_struct('ver', {ver}, 'vday', {dday}, 'op', {op}, 'cents', {cents}))",
            empty="CAST(array() AS ARRAY<STRUCT<ver: INT, vday: BIGINT, op: STRING, cents: BIGINT>>)",
            unnest_from="SELECT o_orderkey, explode(versions) AS v FROM history",
            idiv="DIV",
            day="CAST(datediff(CAST({x} AS DATE), DATE '1970-01-01') AS BIGINT)",
        )
    )


# --------------------------------------------------------------------------
# supplier_herfindahl — market-concentration audit: the Herfindahl-
# Hirschman index of supplier revenue share within each part brand (the
# metric competition authorities and sourcing teams use — is any brand
# supplied by a near-monopoly?). Scale: the fact scan collapses to the
# (brand, supplier) revenue census via ONE partkey shuffle join (the
# TPC-H q14/q19 join shape) + one census groupBy; the HHI rollup runs
# over the bounded brand×supplier grid. Share-squared terms are
# ROUND-quantized then DECIMAL-summed (double SUM order varies per
# engine; quantized decimal sums are associative — CLAUDE.md rule).
_HHI_SQL = """
    WITH cell AS (
      SELECT p.p_brand, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    brand AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             SUM(rev_dec) AS brand_rev
      FROM cell GROUP BY p_brand
    ),
    terms AS (
      SELECT c.p_brand,
             CAST(ROUND(
               (CAST(c.rev_dec AS DOUBLE) / CAST(b.brand_rev AS DOUBLE))
               * (CAST(c.rev_dec AS DOUBLE) / CAST(b.brand_rev AS DOUBLE))
               * 10000, 8) AS DECIMAL(24,8)) AS hhi_term
      FROM cell c JOIN brand b ON c.p_brand = b.p_brand
    )
    SELECT b.p_brand,
           b.n_suppliers,
           CAST(b.brand_rev AS DOUBLE) AS brand_revenue,
           CAST(SUM(t.hhi_term) AS DOUBLE) AS hhi,
           CASE WHEN CAST(SUM(t.hhi_term) AS DOUBLE) < 1500 THEN 'competitive'
                WHEN CAST(SUM(t.hhi_term) AS DOUBLE) < 2500 THEN 'moderate'
                ELSE 'concentrated' END AS concentration
    FROM brand b JOIN terms t ON t.p_brand = b.p_brand
    GROUP BY b.p_brand, b.n_suppliers, b.brand_rev
    ORDER BY b.p_brand
"""


@register("supplier_herfindahl", oracle=_HHI_SQL)
def supplier_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "part")
    return spark.sql(_HHI_SQL)


# --------------------------------------------------------------------------
# orders_keyspace_gap_audit — missing-key detection over a surrogate-key
# space (the DQ check behind "did the extractor drop a chunk?"): keys
# bucket into fixed 1000-wide ranges MAP-SIDE; per bucket the row count
# vs the observed span exposes holes, and the report lists the sparsest
# buckets. Audited relation: the CDC new-snapshot view (keys divisible
# by 5 removed, as in orders_cdc_changelog) — the audit must FIND that
# deletion pattern; the raw testdata keyspace is dense, which would
# make a gap report vacuous. Scale: a pure integer-bucket census (one
# groupBy on a synthetic bounded key), no window, no join, no sort
# beyond the top-20 cut.
_KEYGAP_SQL = """
    WITH snap AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 5 <> 0
    ),
    buckets AS (
      SELECT {bucket} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1 AS BIGINT) AS span
      FROM snap
      GROUP BY {bucket}
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           n_keys, span,
           CAST(span - n_keys AS BIGINT) AS missing,
           ROUND(CAST(n_keys AS DOUBLE) / span, 6) AS density
    FROM buckets
    WHERE span > n_keys
    ORDER BY missing DESC, bucket
    LIMIT 20
"""


@register(
    "orders_keyspace_gap_audit",
    oracle=_KEYGAP_SQL.format(bucket="o_orderkey // 1000"),
)
def orders_keyspace_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_KEYGAP_SQL.format(bucket="o_orderkey DIV 1000"))


# --------------------------------------------------------------------------
# lineitem_reorder_point — inventory reorder points per part: monthly
# demand mean/std (zero months included ALGEBRAICALLY — sufficient
# statistics over observed (part, month) cells divided by the global
# month count, so no part×month dense spine ever materializes) and the
# 95%-service-level reorder point mean + 1.645·std. Scale: one shuffle
# to the (part, month) census, one to the part grain; the month count
# is a scalar. Quantities are exact integers, so the doubles derive
# from identical sums in both engines.
_REORDER_SQL = """
    WITH cells AS (
      SELECT l_partkey,
             ({yr} - 1992) * 12 + ({mon} - 1) AS m,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem
      GROUP BY l_partkey, ({yr} - 1992) * 12 + ({mon} - 1)
    ),
    mcount AS (SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS nm FROM cells),
    stats AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_active_months,
             CAST(SUM(q) AS BIGINT) AS total_qty,
             CAST(SUM(q * q) AS BIGINT) AS sq
      FROM cells GROUP BY l_partkey
    )
    SELECT s.l_partkey, s.n_active_months, s.total_qty,
           ROUND(CAST(s.total_qty AS DOUBLE) / c.nm, 6) AS mean_monthly,
           ROUND(CAST(s.total_qty AS DOUBLE) / c.nm
                 + 1.645e0 * sqrt(greatest(
                     CAST(s.sq AS DOUBLE) / c.nm
                     - (CAST(s.total_qty AS DOUBLE) / c.nm)
                       * (CAST(s.total_qty AS DOUBLE) / c.nm), 0.0e0)), 2)
             AS reorder_point
    FROM stats s CROSS JOIN mcount c
"""


@register(
    "lineitem_reorder_point",
    oracle=_REORDER_SQL.format(
        yr="EXTRACT(year FROM l_shipdate)", mon="EXTRACT(month FROM l_shipdate)"
    ),
)
def lineitem_reorder_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_REORDER_SQL.format(yr="year(l_shipdate)", mon="month(l_shipdate)"))


# --------------------------------------------------------------------------
# events_power_users_pareto — revenue concentration: the share of total
# event value captured by the top 1% / 10% / 50% of users. The whale
# curve behind every monetization/abuse decision. Spark side: the exact
# global rank + running sum come from the distributed two-pass
# (_exact_rank_stage — never a single-partition window over the user
# census); the three segment rows are rank-point lookups against the
# bucketed frame. Oracle keeps the plain window spelling.
_PARETO_SQL = """
    WITH spend AS (
      -- COALESCE: an all-NULL-value user spent 0 cents (NULL ordering
      -- differs across engines, so NULL keys may never reach the rank)
      SELECT user_id,
             CAST(COALESCE(SUM(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT)), 0)
                  AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, user_id) AS i,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS tot,
             SUM(cents) OVER (ORDER BY cents DESC, user_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM spend
    ),
    pcts AS (SELECT 1 AS pct UNION ALL SELECT 10 UNION ALL SELECT 50)
    SELECT 'top_' || CAST(p.pct AS {str_t}) || 'pct' AS segment,
           CAST(r.i AS BIGINT) AS n_users,
           CASE WHEN r.tot > 0 THEN ROUND(CAST(r.cum AS DOUBLE) / r.tot, 6)
                ELSE 0.0e0 END AS value_share
    FROM pcts p JOIN ranked r ON r.i = (r.n * p.pct + 99) {idiv} 100
    ORDER BY p.pct
"""


@register(
    "events_power_users_pareto",
    oracle=_PARETO_SQL.format(str_t="VARCHAR", idiv="//"),
)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    spend = events.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("cents")
    )
    ranked, n, total = _exact_rank_stage(
        spark, sf_dir, "pareto_rank", spend, "cents", "user_id",
        desc=True, sum_col="cents",
    )
    tot_dbl = float(total)
    legs = []
    for pct in (1, 10, 50):
        k = (n * pct + 99) // 100
        legs.append(
            ranked.filter(F.col("_rank") == k).select(
                F.lit(f"top_{pct}pct").alias("segment"),
                F.lit(k).cast("bigint").alias("n_users"),
                (
                    F.round(F.col("_cum").cast("double") / F.lit(tot_dbl), 6)
                    if tot_dbl > 0
                    else F.lit(0.0)
                ).alias("value_share"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.union(leg)
    return out


# --------------------------------------------------------------------------
# events_value_winsorized_stats — robust per-type value statistics:
# P5/P95 winsorization cut points from the bounded cents census
# (cumulative window PARTITIONED BY event_type over census cells, the
# events_ks_test pattern), then an exact integer winsorized mean and
# clip counts. The metric-pipeline move when a few whale transactions
# wreck a plain mean but MAD over-trims. All integer math until the
# final division.
_WINSOR_SQL = """
    WITH vals AS (
      SELECT event_type,
             CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    hist AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM vals GROUP BY event_type, cents
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    cuts AS (
      SELECT event_type,
             MIN(CASE WHEN cr * 20 >= n THEN cents END) AS lo,
             MIN(CASE WHEN cr * 20 >= 19 * n THEN cents END) AS hi
      FROM cum GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(k.lo AS BIGINT) AS p5_cents,
           CAST(k.hi AS BIGINT) AS p95_cents,
           ROUND(CAST(SUM(CASE WHEN v.cents < k.lo THEN k.lo
                               WHEN v.cents > k.hi THEN k.hi
                               ELSE v.cents END) AS DOUBLE) / 100.0e0 / COUNT(*), 6)
             AS winsorized_mean,
           CAST(SUM(CASE WHEN v.cents < k.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN v.cents > k.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high
    FROM vals v JOIN cuts k ON k.event_type = v.event_type
    GROUP BY v.event_type, k.lo, k.hi
    ORDER BY v.event_type
"""


@register("events_value_winsorized_stats", oracle=_WINSOR_SQL)
def events_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_WINSOR_SQL)


# --------------------------------------------------------------------------
# events_ab_srm_check — sample-ratio-mismatch guardrail: before reading
# ANY experiment result, verify the md5 bucketing actually split users
# ~50/50 (a skewed split means assignment is broken and every readout
# is garbage). Chi-square statistic over the two arms from exact
# integer counts; the 3.841 cut is the 95% chi-square(1) critical
# value. Scale: one user census shuffle, then constant-size arithmetic.
_SRM_SQL = """
    WITH per_user AS (
      SELECT user_id, CAST({bucket} AS INT) AS variant
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per_user GROUP BY variant
    ),
    wide AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN n_users ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN variant = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n1
      FROM arms
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           ROUND(CAST(n0 AS DOUBLE) / (n0 + n1), 6) AS control_share,
           ROUND(CAST((n0 - n1) AS DOUBLE) * (n0 - n1) / (n0 + n1), 6)
             AS chi_square,
           CAST(CASE WHEN CAST((n0 - n1) AS DOUBLE) * (n0 - n1) / (n0 + n1) > 3.841e0
                     THEN 1 ELSE 0 END AS INT) AS srm_flag
    FROM wide
"""


@register(
    "events_ab_srm_check",
    oracle=_SRM_SQL.format(
        bucket="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2"
    ),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _SRM_SQL.format(
            bucket="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2"
        )
    )


# --------------------------------------------------------------------------
# part_single_source_risk — effective-single-sourcing risk audit: per
# brand, how many parts depend on one DOMINANT supplier (top-supplier
# quantity share >= 0.2 — the supply-chain fragility census a sourcing
# team tracks next to supplier_herfindahl's revenue concentration).
# Dominance, not a literal n_suppliers = 1 count: in this order book
# every part has >= 13 distinct suppliers, so the literal census was
# identically 0 and the audit certified nothing (round-6 vacuousness
# audit); quantity-share dominance is the risk measure sourcing teams
# actually act on, and its 0.2 threshold sits at this data's tail
# (top shares span 0.045-0.245, 7 of 2000 parts flag). Scale: one
# (part, supplier) quantity census off the fact table, a part-grain
# share rollup, then a bounded brand rollup — exact DECIMAL quantity
# sums so shares agree across engines.
_SINGLESRC_SQL = """
    WITH ps AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18, 2))) AS q
      FROM lineitem l
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    per_part AS (
      SELECT ps.l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CASE WHEN CAST(MAX(ps.q) AS DOUBLE) / CAST(SUM(ps.q) AS DOUBLE) >= 0.2e0
                  THEN 1 ELSE 0 END AS dominated
      FROM ps
      GROUP BY ps.l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(pp.dominated) AS BIGINT) AS n_single_sourced,
           ROUND(CAST(SUM(pp.dominated) AS DOUBLE) / COUNT(*), 6)
             AS single_source_rate,
           ROUND(CAST(SUM(pp.n_suppliers) AS DOUBLE) / COUNT(*), 6)
             AS avg_suppliers_per_part
    FROM per_part pp JOIN part p ON p.p_partkey = pp.l_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


@register("part_single_source_risk", oracle=_SINGLESRC_SQL)
def part_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "part")
    return spark.sql(_SINGLESRC_SQL)


# --------------------------------------------------------------------------
# orders_cohort_ltv — the LTV triangle: customers cohorted by first-
# order month; each (cohort, age) cell reports active customers,
# revenue, and cumulative-revenue-per-cohort-customer — the lifetime-
# value matrix a growth team reads down the diagonal. Scale: one
# custkey-grain cohort census, one (cohort, age) cell rollup (bounded
# by months²); revenue is exact integer cents; the cumulative runs over
# the bounded cell grid partitioned by cohort.
_LTV_SQL = """
    WITH per_order AS (
      SELECT o_custkey,
             ({yr} - 1992) * 12 + ({mon} - 1) AS m,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    cohort AS (
      SELECT o_custkey, MIN(m) AS m0 FROM per_order GROUP BY o_custkey
    ),
    csize AS (
      SELECT m0, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM cohort GROUP BY m0
    ),
    cells AS (
      SELECT c.m0 AS cohort_month, p.m - c.m0 AS age,
             CAST(COUNT(DISTINCT p.o_custkey) AS BIGINT) AS n_active,
             CAST(SUM(p.cents) AS BIGINT) AS cents
      FROM per_order p JOIN cohort c ON c.o_custkey = p.o_custkey
      GROUP BY c.m0, p.m - c.m0
    )
    SELECT CAST(x.cohort_month AS BIGINT) AS cohort_month,
           CAST(x.age AS BIGINT) AS age_months,
           s.n_cohort, x.n_active,
           CAST(x.cents AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(SUM(x.cents) OVER (PARTITION BY x.cohort_month ORDER BY x.age
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / 100.0e0 / s.n_cohort, 6) AS cum_ltv_per_customer
    FROM cells x JOIN csize s ON s.m0 = x.cohort_month
    ORDER BY cohort_month, age_months
"""


@register(
    "orders_cohort_ltv",
    oracle=_LTV_SQL.format(
        yr="EXTRACT(year FROM o_orderdate)", mon="EXTRACT(month FROM o_orderdate)"
    ),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(_LTV_SQL.format(yr="year(o_orderdate)", mon="month(o_orderdate)"))


# --------------------------------------------------------------------------
# lineitem_temporal_dq_audit — cross-table temporal integrity: lineitems
# that shipped BEFORE their order existed (impossible causality —
# loader bugs, timezone mangling, backdated records), reported per
# order month with the lag distribution. One orderkey shuffle join,
# integer day math, bounded month rollup.
_TEMPORAL_DQ_SQL = """
    WITH joined AS (
      SELECT ({yr}) * 100 + ({mon}) AS order_month,
             ({l_day}) - ({o_day}) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(order_month AS BIGINT) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           ROUND(CAST(SUM(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS violation_rate,
           CAST(MIN(lag_days) AS BIGINT) AS worst_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM joined
    GROUP BY order_month
    ORDER BY order_month
"""


@register(
    "lineitem_temporal_dq_audit",
    oracle=_TEMPORAL_DQ_SQL.format(
        yr="EXTRACT(year FROM o.o_orderdate)",
        mon="EXTRACT(month FROM o.o_orderdate)",
        l_day="CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400",
        o_day="CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400",
    ),
)
def lineitem_temporal_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "orders")
    return spark.sql(
        _TEMPORAL_DQ_SQL.format(
            yr="year(o.o_orderdate)",
            mon="month(o.o_orderdate)",
            l_day="CAST(unix_timestamp(l.l_shipdate) AS BIGINT) DIV 86400",
            o_day="CAST(unix_timestamp(o.o_orderdate) AS BIGINT) DIV 86400",
        )
    )


# --------------------------------------------------------------------------
# inventory_abc_xyz — the ABC×XYZ inventory matrix: revenue class (A/B/C
# from the distributed exact-rank cumulative share — the same
# _exact_rank_stage census parts_abc_classification rides) crossed with
# demand-variability class (X/Y/Z from the monthly-demand coefficient
# of variation, zero months algebraic as in lineitem_reorder_point).
# The 9-cell matrix that decides which parts get safety stock vs
# just-in-time. Scale: two part-grain censuses, a part-grain join, a
# 9-cell rollup; no global window anywhere on the Spark side.
_ABCXYZ_ORACLE = """
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev_dec,
             CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_rev,
             CAST(SUM(rev_dec) OVER () AS DOUBLE) AS total_rev
      FROM per_part
    ),
    abc AS (
      SELECT l_partkey, rev_dec,
             CASE WHEN cum_rev / total_rev <= 0.7 THEN 'A'
                  WHEN cum_rev / total_rev <= 0.9 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    ),
    cells AS (
      SELECT l_partkey,
             (EXTRACT(year FROM l_shipdate) - 1992) * 12
               + (EXTRACT(month FROM l_shipdate) - 1) AS m,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, m
    ),
    mcount AS (SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS nm FROM cells),
    xyz AS (
      SELECT s.l_partkey,
             CASE WHEN sqrt(greatest(CAST(s.sq AS DOUBLE) / c.nm
                        - (CAST(s.s1 AS DOUBLE) / c.nm) * (CAST(s.s1 AS DOUBLE) / c.nm), 0.0e0))
                       / (CAST(s.s1 AS DOUBLE) / c.nm) <= 0.5e0 THEN 'X'
                  WHEN sqrt(greatest(CAST(s.sq AS DOUBLE) / c.nm
                        - (CAST(s.s1 AS DOUBLE) / c.nm) * (CAST(s.s1 AS DOUBLE) / c.nm), 0.0e0))
                       / (CAST(s.s1 AS DOUBLE) / c.nm) <= 1.0e0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM (SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS s1,
                   CAST(SUM(q * q) AS BIGINT) AS sq
            FROM cells GROUP BY l_partkey) s
      CROSS JOIN mcount c
    ),
    tot AS (SELECT CAST(SUM(rev_dec) AS DOUBLE) AS t FROM per_part)
    SELECT a.abc_class, x.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(a.rev_dec) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(a.rev_dec) AS DOUBLE) / t.t, 6) AS revenue_share
    FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey CROSS JOIN tot t
    GROUP BY a.abc_class, x.xyz_class, t.t
    ORDER BY a.abc_class, x.xyz_class
"""


@register("inventory_abc_xyz", oracle=_ABCXYZ_ORACLE)
def inventory_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1) - F.col("l_discount").cast(DEC))
        ).alias("rev_dec")
    )
    ranked, _n, total = _exact_rank_stage(
        spark, sf_dir, "abc_rank", per_part, "rev_dec", "l_partkey",
        desc=True, sum_col="rev_dec",
    )
    share = F.col("_cum").cast("double") / F.lit(float(total))
    abc = ranked.select(
        "l_partkey", "rev_dec",
        F.when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C").alias("abc_class"),
    )
    m = (F.year("l_shipdate") - F.lit(1992)) * F.lit(12) + (F.month("l_shipdate") - F.lit(1))
    cells = lineitem.groupBy("l_partkey", m.alias("m")).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q")
    ).persist()
    nm = cells.select("m").distinct().count()
    stats = cells.groupBy("l_partkey").agg(
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sq"),
    )
    mean = F.col("s1").cast("double") / F.lit(float(nm))
    cv = F.sqrt(
        F.greatest(F.col("sq").cast("double") / F.lit(float(nm)) - mean * mean, F.lit(0.0))
    ) / mean
    xyz = stats.select(
        "l_partkey",
        F.when(cv <= 0.5, "X").when(cv <= 1.0, "Y").otherwise("Z").alias("xyz_class"),
    )
    tot_dbl = float(total)
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev_dec").cast("double").alias("revenue"),
            F.round(F.sum("rev_dec").cast("double") / F.lit(tot_dbl), 6).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


# --------------------------------------------------------------------------
# events_spectral_peaks — periodicity detection in hourly traffic: the
# discrete-Fourier power of the mean-removed hourly count series at the
# candidate periods (6/8/12/24/168 hours) — how a monitoring stack
# decides "this metric is daily-cyclic, alert on deviations from the
# cycle" rather than eyeballing ACF lags (events_hourly_acf's
# complement: ACF scans lags, this scores named frequencies). Missing
# hours contribute zero to every sum, so the census needs NO dense
# spine. cos/sin products are quantized then DECIMAL-summed (the pow/ln
# discipline — transcendentals of identical doubles agree, float SUM
# order would not). Scale: one hour census; 5 constant-size frequency
# legs over it.
_SPECTRAL_SQL = """
    WITH hourly AS (
      SELECT ({hour}) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY ({hour})
    ),
    base AS (
      SELECT h - (SELECT MIN(h) FROM hourly) AS t, c FROM hourly
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu
      FROM base
    ),
    periods AS (
      SELECT CAST(p AS BIGINT) AS period FROM (
        SELECT 6 AS p UNION ALL SELECT 8 UNION ALL SELECT 12
        UNION ALL SELECT 24 UNION ALL SELECT 168
      ) x
    ),
    terms AS (
      SELECT p.period,
             CAST(ROUND((b.c - s.mu) * cos(2 * pi() * b.t / p.period), 9)
                  AS DECIMAL(28, 9)) AS re_t,
             CAST(ROUND((b.c - s.mu) * sin(2 * pi() * b.t / p.period), 9)
                  AS DECIMAL(28, 9)) AS im_t
      FROM base b CROSS JOIN stats s CROSS JOIN periods p
    ),
    spectrum AS (
      SELECT t.period,
             CAST(SUM(t.re_t) AS DOUBLE) AS re,
             CAST(SUM(t.im_t) AS DOUBLE) AS im
      FROM terms t GROUP BY t.period
    )
    SELECT sp.period AS period_hours,
           ROUND((sp.re * sp.re + sp.im * sp.im) / s.nh, 4) AS power,
           CAST(ROW_NUMBER() OVER (ORDER BY
                ROUND((sp.re * sp.re + sp.im * sp.im) / s.nh, 4) DESC, sp.period)
             AS BIGINT) AS power_rank
    FROM spectrum sp CROSS JOIN stats s
    ORDER BY period_hours
"""


@register(
    "events_spectral_peaks",
    oracle=_SPECTRAL_SQL.format(hour="CAST(floor(epoch(ts)) AS BIGINT) // 3600"),
)
def events_spectral_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _SPECTRAL_SQL.format(hour="CAST(unix_timestamp(ts) AS BIGINT) DIV 3600")
    )


# --------------------------------------------------------------------------
# events_markov_stationary — the long-run behavioral mix: power-iterate
# the user-transition matrix (events_markov_transitions' census) from a
# uniform start for 16 steps and compare the stationary distribution
# against the empirical state shares — "where does user behavior
# settle vs where it is today". The state space is the bounded
# event-type set, so every iteration is a tiny census join; each
# step's products are ROUND-quantized then DECIMAL-summed, making the
# whole iteration bit-identical across engines (the pow/ln
# discipline applied to a fixpoint).
def _sql_markov_stationary(n_iters: int = 16) -> str:
    parts = ["""trans AS (
      SELECT f, t, CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY f) AS p
      FROM (
        SELECT prev AS f, event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE prev IS NOT NULL
        GROUP BY prev, event_type
      ) x
    )""", """states AS (SELECT f AS s FROM trans GROUP BY f)""", """pi0 AS (
      SELECT s, CAST(1.0e0 AS DOUBLE) / (SELECT COUNT(*) FROM states) AS p
      FROM states
    )"""]
    for k in range(1, n_iters + 1):
        parts.append(f"""pi{k} AS (
      SELECT t.t AS s,
             CAST(CAST(SUM(CAST(ROUND(p.p * t.p, 9) AS DECIMAL(18, 9))) AS DECIMAL(18, 9))
                  AS DOUBLE) AS p
      FROM pi{k - 1} p JOIN trans t ON t.f = p.s
      GROUP BY t.t
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    {ctes},
    empirical AS (
      SELECT event_type AS s,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM events) AS emp_share
      FROM events GROUP BY event_type
    )
    SELECT e.s AS event_type, e.n_events,
           ROUND(e.emp_share, 6) AS empirical_share,
           ROUND(COALESCE(f.p, 0.0e0), 6) AS stationary_prob,
           ROUND(COALESCE(f.p, 0.0e0) - e.emp_share, 6) AS shift
    FROM empirical e LEFT JOIN pi{n_iters} f ON f.s = e.s
    ORDER BY e.s
    """


@register("events_markov_stationary", oracle=_sql_markov_stationary())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_sql_markov_stationary())


# --------------------------------------------------------------------------
# events_ab_heterogeneity — treatment-effect heterogeneity: the A/B
# conversion readout (same md5 bucketing + conversion rule as
# events_ab_test) split by customer market segment — a flat average
# uplift routinely hides a segment where the treatment HURTS. One user
# census, one broadcast dim join, a segment×variant rollup.
_AB_HET_SQL = """
    WITH per_user AS (
      SELECT user_id,
             CAST({bucket} AS INT) AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    seg AS (
      SELECT p.variant, c.c_mktsegment AS segment, p.converted
      FROM per_user p JOIN customer c ON c.c_custkey = p.user_id
    ),
    cells AS (
      SELECT segment, variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM seg GROUP BY segment, variant
    )
    SELECT segment,
           CAST(SUM(CASE WHEN variant = 0 THEN n_users ELSE 0 END) AS BIGINT) AS n_control,
           CAST(SUM(CASE WHEN variant = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n_treatment,
           ROUND(CAST(SUM(CASE WHEN variant = 0 THEN n_conv ELSE 0 END) AS DOUBLE)
                 / greatest(SUM(CASE WHEN variant = 0 THEN n_users ELSE 0 END), 1), 6)
             AS cr_control,
           ROUND(CAST(SUM(CASE WHEN variant = 1 THEN n_conv ELSE 0 END) AS DOUBLE)
                 / greatest(SUM(CASE WHEN variant = 1 THEN n_users ELSE 0 END), 1), 6)
             AS cr_treatment,
           ROUND(CAST(SUM(CASE WHEN variant = 1 THEN n_conv ELSE 0 END) AS DOUBLE)
                 / greatest(SUM(CASE WHEN variant = 1 THEN n_users ELSE 0 END), 1)
                 - CAST(SUM(CASE WHEN variant = 0 THEN n_conv ELSE 0 END) AS DOUBLE)
                 / greatest(SUM(CASE WHEN variant = 0 THEN n_users ELSE 0 END), 1), 6)
             AS uplift
    FROM cells
    GROUP BY segment
    ORDER BY segment
"""


@register(
    "events_ab_heterogeneity",
    oracle=_AB_HET_SQL.format(
        bucket="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2"
    ),
)
def events_ab_heterogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events", "customer")
    return spark.sql(
        _AB_HET_SQL.format(
            bucket="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2"
        )
    )


# --------------------------------------------------------------------------
# events_markov_heldout_accuracy — does the behavior model generalize?
# Train the next-event predictor (argmax transition count, tie-break
# alphabetical) on EVEN user_ids, score top-1 accuracy per history
# state on the ODD users — the held-out eval that separates a real
# behavioral regularity from memorized sequences (the LM-eval split
# applied to the Markov family). All integer counts; one user-keyed
# LAG window per half; the model table is states² and broadcasts.
_MARKOV_HELDOUT_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    train AS (
      SELECT prev AS f, event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev IS NOT NULL AND user_id % 2 = 0
      GROUP BY prev, event_type
    ),
    model AS (
      SELECT f, t AS predicted FROM (
        SELECT f, t, ROW_NUMBER() OVER (PARTITION BY f ORDER BY c DESC, t) AS rn
        FROM train
      ) r WHERE rn = 1
    ),
    eval_pairs AS (
      SELECT prev AS f, event_type AS actual
      FROM seq WHERE prev IS NOT NULL AND user_id % 2 = 1
    )
    SELECT e.f AS history_state,
           m.predicted,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN e.actual = m.predicted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN e.actual = m.predicted THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS top1_accuracy
    FROM eval_pairs e JOIN model m ON m.f = e.f
    GROUP BY e.f, m.predicted
    ORDER BY e.f
"""


@register("events_markov_heldout_accuracy", oracle=_MARKOV_HELDOUT_SQL)
def events_markov_heldout_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_MARKOV_HELDOUT_SQL)


# --------------------------------------------------------------------------
# events_linear_attribution — multi-touch attribution: every purchase
# splits one unit of credit LINEARLY across the event types the user
# touched in the preceding 24 hours (purchase included as its own
# touch) — the marketing-science counterpart of the last-touch
# interval_attribution_join. The trailing-window touch counts are
# conditional SUMs over a RANGE frame PARTITIONED BY user (bounded
# range, natural key); credits are exact rationals quantized before
# the DECIMAL rollup.
_LINATTR_SQL = """
    WITH ev AS (
      SELECT user_id, event_type, {sec} AS s
      FROM events
    ),
    windowed AS (
      SELECT user_id, event_type, s,
             {counts},
             {total} AS n_touch
      FROM ev
    ),
    credits AS (
      SELECT user_id,
             {credit_rows} AS credit_arr
      FROM windowed WHERE event_type = 'purchase'
    ),
    exploded AS (
      SELECT x.touch_type, x.credit FROM ({unnest}) u
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credited_purchases,
           ROUND(CAST(SUM(CAST(credit AS DECIMAL(18, 9))) AS DOUBLE), 4)
             AS attributed_purchases
    FROM exploded
    WHERE credit > 0
    GROUP BY touch_type
    ORDER BY touch_type
"""


def _linattr_sql(engine: str) -> str:
    types = ["browse", "click", "purchase", "search", "view"]
    if engine == "spark":
        sec = "CAST(unix_timestamp(ts) AS BIGINT)"
    else:
        sec = "CAST(floor(epoch(ts)) AS BIGINT)"
    counts = ",\n             ".join(
        f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) OVER "
        f"(PARTITION BY user_id ORDER BY s RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)"
        f" AS c_{t}" for t in types
    )
    total = " + ".join(f"c_{t}" for t in types).join(["(", ")"])
    # per purchase: an array of (touch_type, credit) structs, exploded
    if engine == "spark":
        credit_rows = (
            "array("
            + ", ".join(
                f"named_struct('touch_type', '{t}', 'credit', "
                f"ROUND(CAST(c_{t} AS DOUBLE) / n_touch, 9))" for t in types
            )
            + ")"
        )
        unnest = "SELECT explode(credit_arr) AS x FROM credits"
    else:
        credit_rows = (
            "["
            + ", ".join(
                f"{{'touch_type': '{t}', 'credit': "
                f"ROUND(CAST(c_{t} AS DOUBLE) / n_touch, 9)}}" for t in types
            )
            + "]"
        )
        unnest = "SELECT unnest(credit_arr) AS x FROM credits"
    return _LINATTR_SQL.format(
        sec=sec, counts=counts, total=total, credit_rows=credit_rows, unnest=unnest
    )


@register("events_linear_attribution", oracle=_linattr_sql("duck"))
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_linattr_sql("spark"))


# --------------------------------------------------------------------------
# events_engagement_fatigue — does the Nth interaction spend less? Each
# user's events are numbered (user-partitioned window, natural key),
# bucketed into DECADE visit ranks (rank k = visits 10(k-1)+1..10k,
# rank 10 = 91+), and each rank reports users reaching it, mean value
# (exact integer cents / count), and retention vs rank 1 — the
# engagement-decay curve a growth team reads before believing a DAU
# number. Decades, not single visits: every user in this feed has 49-86
# events, so a 1..10+ per-visit ranking had every user reaching every
# rank (reach_vs_first identically 1.0 — round-6 vacuousness audit);
# decade ranks put the feed's attrition between ranks 5 and 9 where the
# decay curve is actually visible. One user shuffle; 10-cell rollup.
_FATIGUE_SQL = """
    WITH numbered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS visit_n
      FROM events
    ),
    bucketed AS (
      SELECT CASE WHEN visit_n >= 91 THEN 10
                  ELSE ((visit_n - 1) {div} 10) + 1 END AS visit_rank,
             user_id,
             CAST(floor(COALESCE(value, 0.0e0) * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      FROM numbered
    ),
    cells AS (
      SELECT visit_rank,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM bucketed GROUP BY visit_rank
    ),
    base AS (SELECT n_users AS u1 FROM cells WHERE visit_rank = 1)
    SELECT CAST(c.visit_rank AS BIGINT) AS visit_rank,
           c.n_users, c.n_events,
           ROUND(CAST(c.cents AS DOUBLE) / 100.0e0 / c.n_events, 4) AS mean_value,
           ROUND(CAST(c.n_users AS DOUBLE) / b.u1, 6) AS reach_vs_first
    FROM cells c CROSS JOIN base b
    ORDER BY visit_rank
"""


@register("events_engagement_fatigue", oracle=_FATIGUE_SQL.format(div="//"))
def events_engagement_fatigue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_FATIGUE_SQL.format(div="DIV"))


# --------------------------------------------------------------------------
# demand_pattern_classification — the Syntetos–Boylan demand quadrants:
# each part classes by ADI (average inter-demand interval = months
# observed / months with demand) and CV² of its NONZERO monthly demand
# sizes into smooth / intermittent / erratic / lumpy — the
# classification that decides which forecasting model
# (Croston vs exponential smoothing) a part gets, companion to
# lineitem_reorder_point and inventory_abc_xyz. Cut points: ADI 1.32,
# CV² 0.49 (the published thresholds). All sufficient statistics are
# exact integers; one (part, month) census, one part rollup, a 4-cell
# report.
_DEMAND_CLASS_SQL = """
    WITH cells AS (
      SELECT l_partkey,
             ({yr} - 1992) * 12 + ({mon} - 1) AS m,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem
      GROUP BY l_partkey, ({yr} - 1992) * 12 + ({mon} - 1)
    ),
    mcount AS (SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS nm FROM cells),
    per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2
      FROM cells GROUP BY l_partkey
    ),
    classed AS (
      SELECT p.l_partkey,
             CAST(c.nm AS DOUBLE) / p.n_active AS adi,
             (CAST(p.s2 AS DOUBLE) / p.n_active
              - (CAST(p.s1 AS DOUBLE) / p.n_active) * (CAST(p.s1 AS DOUBLE) / p.n_active))
             / ((CAST(p.s1 AS DOUBLE) / p.n_active) * (CAST(p.s1 AS DOUBLE) / p.n_active))
               AS cv2
      FROM per_part p CROSS JOIN mcount c
    ),
    labeled AS (
      SELECT l_partkey,
             CASE WHEN adi < 1.32e0 AND cv2 < 0.49e0 THEN 'smooth'
                  WHEN adi >= 1.32e0 AND cv2 < 0.49e0 THEN 'intermittent'
                  WHEN adi < 1.32e0 THEN 'erratic'
                  ELSE 'lumpy' END AS demand_class,
             adi, cv2
      FROM classed
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM labeled)
    SELECT l.demand_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.n, 6) AS part_share,
           ROUND(CAST(SUM(CAST(ROUND(l.adi, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_adi,
           ROUND(CAST(SUM(CAST(ROUND(l.cv2, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_cv2
    FROM labeled l CROSS JOIN tot t
    GROUP BY l.demand_class, t.n
    ORDER BY l.demand_class
"""


@register(
    "demand_pattern_classification",
    oracle=_DEMAND_CLASS_SQL.format(
        yr="EXTRACT(year FROM l_shipdate)", mon="EXTRACT(month FROM l_shipdate)"
    ),
)
def demand_pattern_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(
        _DEMAND_CLASS_SQL.format(yr="year(l_shipdate)", mon="month(l_shipdate)")
    )


# --------------------------------------------------------------------------
# events_lifetime_gamma_moments — parametric lifetime summary: method-
# of-moments Gamma(α, θ) fit of user lifetimes (events_survival_curve's
# histogram reduced to two parameters: α = mean²/var, θ = var/mean) —
# what a capacity/LTV model consumes instead of the whole curve. All
# moments are exact integer sums over the user census; the fit is
# constant-size arithmetic with degenerate-variance guards.
_GAMMA_FIT_SQL = """
    WITH per_user AS (
      SELECT user_id, {lifetime} AS lt
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lt) AS BIGINT) AS s1,
             CAST(SUM(lt * lt) AS BIGINT) AS s2
      FROM per_user
    )
    SELECT n AS n_users,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_lifetime_days,
           ROUND(greatest(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0e0), 6)
             AS var_lifetime,
           CASE WHEN CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
                THEN ROUND((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     / (CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 4)
                ELSE 0.0e0 END AS gamma_alpha,
           CASE WHEN CAST(s1 AS DOUBLE) > 0
                     AND CAST(s2 AS DOUBLE) / n
                         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
                THEN ROUND((CAST(s2 AS DOUBLE) / n
                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                     / (CAST(s1 AS DOUBLE) / n), 4)
                ELSE 0.0e0 END AS gamma_theta
    FROM m
"""


@register(
    "events_lifetime_gamma_moments",
    oracle=_GAMMA_FIT_SQL.format(
        lifetime="CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT)"
    ),
)
def events_lifetime_gamma_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _GAMMA_FIT_SQL.format(lifetime="CAST(datediff(MAX(ts), MIN(ts)) AS BIGINT)")
    )


# --------------------------------------------------------------------------
# lineitem_price_index — monthly Laspeyres price index: each month's
# unit prices weighted by the FIRST-OBSERVED-YEAR quantity basket,
# relative to base-year prices — the inflation readout an ops/finance
# team tracks over transactional data. Scale: two (part, month-grain)
# censuses, a part-keyed join (base basket broadcastable at dimension
# scale), ROUND-quantized price×quantity terms DECIMAL-summed, a
# bounded month rollup.
_PRICE_INDEX_SQL = """
    WITH cells AS (
      SELECT l_partkey,
             ({yr}) AS y, ({mon}) AS mo,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      GROUP BY l_partkey, ({yr}), ({mon})
    ),
    base AS (
      -- basket = the FIRST OBSERVED year (the data's own base period)
      SELECT l_partkey,
             CAST(SUM(CAST(ext AS DECIMAL(18,2))) AS DOUBLE) AS base_ext,
             CAST(SUM(qty) AS BIGINT) AS base_qty
      FROM cells WHERE y = (SELECT MIN(y) FROM cells)
      GROUP BY l_partkey
      HAVING SUM(qty) > 0
    ),
    priced AS (
      SELECT c.y, c.mo,
             CAST(ROUND((c.ext / c.qty) * b.base_qty, 6) AS DECIMAL(28, 6)) AS cur_term,
             CAST(ROUND((b.base_ext / b.base_qty) * b.base_qty, 6) AS DECIMAL(28, 6))
               AS base_term
      FROM cells c JOIN base b ON b.l_partkey = c.l_partkey
      WHERE c.qty > 0
    )
    SELECT CAST(y * 100 + mo AS BIGINT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_parts_priced,
           ROUND(CAST(SUM(cur_term) AS DOUBLE)
                 / NULLIF(CAST(SUM(base_term) AS DOUBLE), 0.0e0) * 100, 4)
             AS laspeyres_index
    FROM priced
    GROUP BY y, mo
    ORDER BY month
"""


@register(
    "lineitem_price_index",
    oracle=_PRICE_INDEX_SQL.format(
        yr="EXTRACT(year FROM l_shipdate)", mon="EXTRACT(month FROM l_shipdate)"
    ),
)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(
        _PRICE_INDEX_SQL.format(yr="year(l_shipdate)", mon="month(l_shipdate)")
    )


# --------------------------------------------------------------------------
# customer_tier_migration — the tier-churn matrix: customers get a
# spend quartile in the EARLY half of the data and again in the LATE
# half (split at the midpoint month); the 5×5 matrix (tier 0 = absent
# that period) shows upgrades, downgrades, churn-outs and new joiners —
# the movement table behind every "premium tier retention" slide.
# Spark side: both quartile passes use the distributed exact-rank
# two-pass + map-side NTILE(4) arithmetic (never a global NTILE
# window); the oracle keeps the plain window spelling.
_TIER_MIG_ORACLE = """
    WITH base AS (
      SELECT o_custkey,
             (EXTRACT(year FROM o_orderdate) - 1992) * 12
               + (EXTRACT(month FROM o_orderdate) - 1) AS m,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    bounds AS (SELECT MIN(m) AS mn, MAX(m) AS mx FROM base),
    per AS (
      SELECT b.o_custkey,
             CASE WHEN b.m * 2 < x.mn + x.mx + 1 THEN 0 ELSE 1 END AS period,
             CAST(SUM(b.cents) AS BIGINT) AS cents
      FROM base b CROSS JOIN bounds x
      GROUP BY b.o_custkey, CASE WHEN b.m * 2 < x.mn + x.mx + 1 THEN 0 ELSE 1 END
    ),
    p0 AS (
      SELECT o_custkey,
             CAST(NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS tier
      FROM per WHERE period = 0
    ),
    p1 AS (
      SELECT o_custkey,
             CAST(NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS tier
      FROM per WHERE period = 1
    ),
    cells AS (
      SELECT COALESCE(p0.tier, 0) AS tier_early,
             COALESCE(p1.tier, 0) AS tier_late,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM p0 FULL OUTER JOIN p1 ON p0.o_custkey = p1.o_custkey
      GROUP BY COALESCE(p0.tier, 0), COALESCE(p1.tier, 0)
    ),
    tot AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS n FROM cells)
    SELECT c.tier_early, c.tier_late, c.n_customers,
           ROUND(CAST(c.n_customers AS DOUBLE) / t.n, 6) AS share
    FROM cells c CROSS JOIN tot t
    ORDER BY c.tier_early, c.tier_late
"""


@register("customer_tier_migration", oracle=_TIER_MIG_ORACLE)
def customer_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        ((F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
         + (F.month("o_orderdate") - F.lit(1))).alias("m"),
        F.round(F.col("o_totalprice") * F.lit(100)).cast("bigint").alias("cents"),
    )
    mn, mx = base.agg(F.min("m"), F.max("m")).collect()[0]
    per = (
        base.withColumn(
            "period", F.when(F.col("m") * 2 < F.lit(mn + mx + 1), 0).otherwise(1)
        )
        .groupBy("o_custkey", "period")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
        .persist()
    )
    tiers = {}
    for p in (0, 1):
        census = per.filter(F.col("period") == p).select("o_custkey", "cents")
        ranked, n, _ = _exact_rank_stage(
            spark, sf_dir, f"tiermig_{p}", census, "cents", "o_custkey", desc=True
        )
        tiers[p] = ranked.select(
            F.col("o_custkey").alias(f"ck{p}"),
            _ntile_from_rank(n, 4).alias(f"tier{p}"),
        )
    joined = tiers[0].join(
        tiers[1], tiers[0].ck0 == tiers[1].ck1, "full_outer"
    )
    cells = (
        joined.select(
            F.coalesce(F.col("tier0"), F.lit(0)).cast("bigint").alias("tier_early"),
            F.coalesce(F.col("tier1"), F.lit(0)).cast("bigint").alias("tier_late"),
        )
        .groupBy("tier_early", "tier_late")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .persist()
    )
    total = cells.agg(F.sum("n_customers")).collect()[0][0]
    return cells.select(
        "tier_early", "tier_late", "n_customers",
        F.round(F.col("n_customers").cast("double") / F.lit(float(total)), 6).alias("share"),
    ).orderBy("tier_early", "tier_late")


# --------------------------------------------------------------------------
# events_ab_cuped — CUPED variance-reduced A/B readout (the Microsoft
# experimentation-platform estimator every mature A/B stack ships):
# pre-period value (first 15 days) is the covariate, theta =
# cov(pre, post)/var(pre) is fit on the POOLED population, and each
# variant reports its raw and adjusted post-period mean plus the global
# variance-reduction ratio. Determinism: values are integer cents; all
# moments (Sx, Sy, Sxy, Sxx, Syy) are exact DECIMAL(38,0) sums of
# BIGINT products, converted to DOUBLE only for the closed-form scalar
# arithmetic (identical IEEE ops in both engines). Scale: one user
# census (map-side partials), then constant-size moment state — the
# OLS-moment shape of discount_elasticity_ols.
_CUPED_SQL = """
    WITH b AS (SELECT MIN(ts) AS t0 FROM events),
    per_user AS (
      SELECT user_id,
             CAST({bucket} AS INT) AS variant,
             SUM(CASE WHEN e.ts < b.t0 + INTERVAL 15 DAY
                      THEN CAST(ROUND(COALESCE(e.value, 0.0e0) * 100) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END) AS x,
             SUM(CASE WHEN e.ts >= b.t0 + INTERVAL 15 DAY
                      THEN CAST(ROUND(COALESCE(e.value, 0.0e0) * 100) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END) AS y
      FROM events e CROSS JOIN b
      GROUP BY user_id, {bucket}
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38, 0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38, 0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38, 0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38, 0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38, 0))) AS DOUBLE) AS syy
      FROM per_user
    ),
    theta AS (
      SELECT n, sx, sy,
             CASE WHEN n * sxx - sx * sx > 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                  ELSE 0.0e0 END AS th,
             CASE WHEN n * syy - sy * sy > 0 AND n * sxx - sx * sx > 0
                  THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                  ELSE 0.0e0 END AS var_reduction
      FROM mom
    ),
    arms AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(x AS DECIMAL(38, 0))) AS DOUBLE) AS sx_v,
             CAST(SUM(CAST(y AS DECIMAL(38, 0))) AS DOUBLE) AS sy_v
      FROM per_user GROUP BY variant
    )
    SELECT a.variant, a.n_users,
           ROUND(a.sy_v / a.n_users / 100.0e0, 6) AS mean_post_value,
           ROUND((a.sy_v / a.n_users
                  - t.th * (a.sx_v / a.n_users - t.sx / t.n)) / 100.0e0, 6)
             AS mean_adjusted_value,
           ROUND(t.th, 6) AS theta,
           ROUND(t.var_reduction, 6) AS var_reduction
    FROM arms a CROSS JOIN theta t
    ORDER BY a.variant
"""


@register(
    "events_ab_cuped",
    oracle=_CUPED_SQL.format(
        bucket="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2"
    ),
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _CUPED_SQL.format(
            bucket="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2"
        )
    )


# --------------------------------------------------------------------------
# events_ab_sprt — anytime-valid A/B monitoring: the per-day CUMULATIVE
# two-proportion z trajectory (users enter at their first event day,
# convert at their first qualifying purchase), with the day each reading
# crosses the O'Brien–Fleming-style 2.24 boundary flagged — the
# sequential readout that answers "could we have stopped early?" (and
# whose repeated peeks the fixed-horizon events_ab_test cannot absorb).
# Scale: one user census (first_day, conv_day, variant), then a census ×
# 30-row day-spine rollup — the spine join is broadcast, cumulative
# counts are per-day aggregates of the census, never re-scans of events.
_SPRT_SQL = """
    WITH b AS (SELECT MIN(ts) AS t0 FROM events),
    per_user AS (
      SELECT user_id,
             CAST({bucket} AS INT) AS variant,
             CAST(MIN({day_expr}) AS BIGINT) AS first_day,
             MIN(CASE WHEN event_type = 'purchase' AND value >= 150
                      THEN CAST({day_expr} AS BIGINT) END) AS conv_day
      FROM events e CROSS JOIN b
      GROUP BY user_id, {bucket}
    ),
    spine AS (SELECT CAST(d AS BIGINT) AS day_k FROM ({days}) s),
    daily AS (
      SELECT sp.day_k,
             CAST(SUM(CASE WHEN u.variant = 0 AND u.first_day <= sp.day_k THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN u.variant = 0 AND u.conv_day <= sp.day_k THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN u.variant = 1 AND u.first_day <= sp.day_k THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN u.variant = 1 AND u.conv_day <= sp.day_k THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM spine sp CROSS JOIN per_user u
      GROUP BY sp.day_k
    ),
    zt AS (
      SELECT day_k, n0, c0, n1, c1,
             CASE WHEN n0 > 0 AND n1 > 0
                       AND (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                           * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) > 0
                  THEN ROUND(
                    (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                    / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                           * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                           * (1.0e0 / n0 + 1.0e0 / n1)), 6)
                  ELSE CAST(0.0 AS DOUBLE) END AS z_cumulative
      FROM daily
    )
    SELECT day_k, n0, c0, n1, c1, z_cumulative,
           -- the "keep watching" monitoring level (fires on this null
           -- feed's early-noise days — the mechanism is exercised)
           CAST(CASE WHEN abs(z_cumulative) >= 1.0e0 THEN 1 ELSE 0 END AS INT)
             AS peek_alert,
           -- the confirmatory O'Brien-Fleming-style level (identically 0
           -- on an honest null A/A split is the CORRECT reading; same
           -- code path as peek_alert)
           CAST(CASE WHEN abs(z_cumulative) >= 2.24e0 THEN 1 ELSE 0 END AS INT)
             AS crossed_boundary
    FROM zt
    ORDER BY day_k
"""


@register(
    "events_ab_sprt",
    oracle=_SPRT_SQL.format(
        bucket="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2",
        day_expr="(CAST(floor(epoch(e.ts)) AS BIGINT) - CAST(floor(epoch(b.t0)) AS BIGINT)) // 86400",
        days="SELECT unnest(generate_series(0, 29)) AS d",
    ),
)
def events_ab_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _SPRT_SQL.format(
            bucket="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2",
            day_expr="(CAST(unix_timestamp(e.ts) AS BIGINT) - CAST(unix_timestamp(b.t0) AS BIGINT)) DIV 86400",
            days="SELECT explode(sequence(0, 29)) AS d",
        )
    )


# --------------------------------------------------------------------------
# lineitem_eoq_plan — economic-order-quantity planning per part: demand
# D (total quantity, exact integer), unit cost from exact DECIMAL
# revenue, holding cost h = 20% of unit cost, fixed order cost K = 100;
# EOQ = sqrt(2DK/h) with the implied order count and cycle-stock value
# — the inventory-policy table next to lineitem_reorder_point (safety
# stock) and inventory_abc_xyz (classification). Top-20 parts by
# demand, partkey tie-break. Scale: one (part) census with map-side
# partials; the EOQ arithmetic is per-group scalar math on exact sums.
_EOQ_SQL = """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS demand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE) AS revenue
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT l_partkey, demand,
           ROUND(revenue / demand, 4) AS unit_cost,
           ROUND(sqrt(2.0e0 * demand * 100.0e0
                      / (0.2e0 * revenue / demand)), 4) AS eoq_units,
           ROUND(demand / sqrt(2.0e0 * demand * 100.0e0
                               / (0.2e0 * revenue / demand)), 4) AS orders_per_period,
           ROUND(sqrt(2.0e0 * demand * 100.0e0 / (0.2e0 * revenue / demand))
                 / 2.0e0 * (revenue / demand), 2) AS cycle_stock_value
    FROM per_part
    WHERE demand > 0 AND revenue > 0
    ORDER BY demand DESC, l_partkey
    LIMIT 20
"""


@register("lineitem_eoq_plan", oracle=_EOQ_SQL)
def lineitem_eoq_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_EOQ_SQL)


# --------------------------------------------------------------------------
# customer_order_gap_alerts — dormancy detection: per customer with >= 4
# observed inter-order gaps, the current silence (days since last order,
# anchored at the corpus max date) against that customer's own gap
# distribution (exact integer moment mean/std); alert when the silence
# exceeds mean + 2*std. The churn-intervention trigger list a CRM runs
# weekly (148 of 1498 eligible customers alert at sf0.01 — a real
# mixture, audited non-vacuous; the full eligible list is returned
# because a top-k BY the alert ratio is tautologically all-alert).
# Scale: one LAG window + one aggregate on the custkey shuffle; the
# anchor date is a scalar aggregate.
_GAP_ALERT_SQL = """
    WITH days AS (
      SELECT o_custkey, ({day}) AS d, o_orderkey FROM orders
    ),
    gaps AS (
      SELECT o_custkey,
             d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS gap
      FROM days
    ),
    stats AS (
      SELECT o_custkey,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(gap AS DECIMAL(18, 0))) AS DOUBLE) AS sg,
             CAST(SUM(CAST(gap * gap AS DECIMAL(28, 0))) AS DOUBLE) AS sgg
      FROM gaps WHERE gap IS NOT NULL
      GROUP BY o_custkey
    ),
    anchor AS (SELECT MAX(d) AS today FROM days),
    last_seen AS (
      SELECT o_custkey, MAX(d) AS last_d FROM days GROUP BY o_custkey
    )
    SELECT s.o_custkey, s.n_gaps,
           ROUND(s.sg / s.n_gaps, 4) AS mean_gap_days,
           ROUND(sqrt(greatest((s.n_gaps * s.sgg - s.sg * s.sg)
                               / (CAST(s.n_gaps AS DOUBLE) * s.n_gaps), 0.0e0)), 4)
             AS std_gap_days,
           CAST(a.today - l.last_d AS BIGINT) AS silent_days,
           ROUND(CAST(a.today - l.last_d AS DOUBLE)
                 / greatest(s.sg / s.n_gaps
                            + 2 * sqrt(greatest((s.n_gaps * s.sgg - s.sg * s.sg)
                                                / (CAST(s.n_gaps AS DOUBLE) * s.n_gaps),
                                                0.0e0)), 1.0e0), 6) AS silence_ratio,
           CAST(CASE WHEN CAST(a.today - l.last_d AS DOUBLE)
                          > s.sg / s.n_gaps
                            + 2 * sqrt(greatest((s.n_gaps * s.sgg - s.sg * s.sg)
                                                / (CAST(s.n_gaps AS DOUBLE) * s.n_gaps),
                                                0.0e0))
                     THEN 1 ELSE 0 END AS INT) AS alert
    FROM stats s
    JOIN last_seen l ON l.o_custkey = s.o_custkey
    CROSS JOIN anchor a
    WHERE s.n_gaps >= 4
    ORDER BY silence_ratio DESC, s.o_custkey
"""


@register(
    "customer_order_gap_alerts",
    oracle=_GAP_ALERT_SQL.format(
        day="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"
    ),
)
def customer_order_gap_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _GAP_ALERT_SQL.format(
            day="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400"
        )
    )


# --------------------------------------------------------------------------
# brand_price_volume_mix — price/volume decomposition of revenue change
# (the FP&A bridge chart): per brand, the revenue delta between the
# order book's early and late halves (split at 1997-01-01) decomposes
# exactly into a price effect ((p1−p0)·q1) and a volume effect
# (p0·(q1−q0)) — the two-factor identity, so the bridge reconciles to
# the cent. Determinism: quantities are exact integers, revenues exact
# DECIMAL cents; unit prices are exact-ratio doubles and the effects
# scalar IEEE math on them. Scale: one brand-keyed census with map-side
# partials over the fact join; the decomposition is per-group scalar
# arithmetic.
_PVM_SQL = """
    WITH halves AS (
      SELECT p.p_brand,
             CASE WHEN o.o_orderdate < {cut} THEN 0 ELSE 1 END AS h,
             CAST(ROUND(l.l_quantity) AS BIGINT) AS q,
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    agg AS (
      SELECT p_brand,
             CAST(SUM(CASE WHEN h = 0 THEN q ELSE 0 END) AS BIGINT) AS q0,
             CAST(SUM(CASE WHEN h = 1 THEN q ELSE 0 END) AS BIGINT) AS q1,
             CAST(SUM(CAST(CASE WHEN h = 0 THEN cents ELSE 0 END AS DECIMAL(28, 0)))
                  AS DOUBLE) AS r0,
             CAST(SUM(CAST(CASE WHEN h = 1 THEN cents ELSE 0 END AS DECIMAL(28, 0)))
                  AS DOUBLE) AS r1
      FROM halves GROUP BY p_brand
    )
    SELECT p_brand, q0, q1,
           ROUND(r0 / 100.0e0, 2) AS revenue_early,
           ROUND(r1 / 100.0e0, 2) AS revenue_late,
           ROUND((r1 - r0) / 100.0e0, 2) AS revenue_delta,
           ROUND((r1 / q1 - r0 / q0) * q1 / 100.0e0, 2) AS price_effect,
           ROUND(r0 / q0 * (q1 - q0) / 100.0e0, 2) AS volume_effect
    FROM agg
    WHERE q0 > 0 AND q1 > 0
    ORDER BY p_brand
"""


@register(
    "brand_price_volume_mix",
    oracle=_PVM_SQL.format(cut="DATE '1997-01-01'"),
)
def brand_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "orders", "part")
    return spark.sql(_PVM_SQL.format(cut="DATE '1997-01-01'"))


# --------------------------------------------------------------------------
# aqp_sample_error_audit — approximate-query-processing audit (the
# BlinkDB question): a deterministic 10% uniform sample (md5(o_orderkey)
# bucket 0 of 10 — a map-side hash predicate that rides the scan, so at
# 100TB the estimator reads one tenth of the fact table) estimates the
# per-nation order count and revenue; the audit joins the scaled
# estimates back to the exact census and reports relative errors plus
# the 3-sigma binomial bound the estimate should respect. Determinism:
# both engines derive the SAME sample from the md5 of the key (no RNG),
# revenue is exact DECIMAL cents on both legs, and the scaled estimate
# is scalar IEEE math on exact inputs. Scale: one grouped pass computes
# the exact and sampled partials together here (so the audit itself is
# a single census); a production estimator would run only the sampled
# leg. Non-vacuous at sf0.01 (measured): per-nation count rel-errors
# span ~0.001-0.1 and revenue rel-errors similar — the defining metric
# varies per group.
_AQP_SQL = """
    WITH tagged AS (
      SELECT c.c_nationkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN ({h8}) % 10 = 0 THEN 1 ELSE 0 END AS in_sample
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per_nation AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS exact_cnt,
             CAST(SUM(in_sample) AS BIGINT) AS sample_cnt,
             CAST(SUM(CAST(cents AS DECIMAL(28, 0))) AS DOUBLE) AS exact_cents,
             CAST(SUM(CAST(CASE WHEN in_sample = 1 THEN cents ELSE 0 END
                           AS DECIMAL(28, 0))) AS DOUBLE) AS sample_cents
      FROM tagged GROUP BY c_nationkey
    )
    SELECT CAST(c_nationkey AS INT) AS c_nationkey,
           exact_cnt,
           CAST(sample_cnt * 10 AS BIGINT) AS est_cnt,
           ROUND(exact_cents / 100.0e0, 2) AS exact_revenue,
           ROUND(sample_cents * 10.0e0 / 100.0e0, 2) AS est_revenue,
           ROUND(abs(sample_cnt * 10.0e0 - exact_cnt) / exact_cnt, 6)
             AS cnt_rel_err,
           ROUND(CASE WHEN exact_cents > 0
                      THEN abs(sample_cents * 10.0e0 - exact_cents) / exact_cents
                      ELSE 0.0e0 END, 6) AS rev_rel_err,
           ROUND(3.0e0 * sqrt(CAST(exact_cnt AS DOUBLE) * 0.1e0 * 0.9e0)
                 * 10.0e0 / exact_cnt, 6) AS cnt_bound_3sigma
    FROM per_nation
    ORDER BY c_nationkey
"""


@register(
    "aqp_sample_error_audit",
    oracle=_AQP_SQL.format(
        h8="CAST('0x' || substring(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)"
    ),
)
def aqp_sample_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders", "customer")
    return spark.sql(
        _AQP_SQL.format(
            h8="CAST(conv(substring(md5(CAST(o.o_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        )
    )


# --------------------------------------------------------------------------
# ivm_join_delta — incremental view maintenance THROUGH A JOIN (the
# companion to ivm_incremental_agg, which maintains a plain aggregate):
# the materialized view is per-nation (order count, revenue) over
# orders JOIN customer JOIN nation; a fact-side delta arrives (orders
# on/after 2001-01-01, ~9% of the book at sf0.01). The delta view is
# delta_facts joined to the dimensions ONLY (at 100TB: the delta scan is
# days, not years, and the dim join broadcasts), then merged into the
# base view with a FULL OUTER coalescing merge — the actual IVM merge
# operator, not a recompute. The audit recomputes the view from scratch
# and asserts merge == full per group (the consistency flags certify the
# identity; the varying base/delta/share columns carry the hash).
# Determinism: counts are exact BIGINT, money exact DECIMAL cents end to
# end; equality on decimals is exact so the flags are robust.
_IVM_JOIN_SQL = """
    WITH enriched AS (
      SELECT n.n_name, o.o_orderdate,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    base AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(cents AS DECIMAL(28, 0))) AS DECIMAL(28, 0)) AS c_cents
      FROM enriched WHERE o_orderdate < {cut} GROUP BY n_name
    ),
    delta AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(cents AS DECIMAL(28, 0))) AS DECIMAL(28, 0)) AS c_cents
      FROM enriched WHERE o_orderdate >= {cut} GROUP BY n_name
    ),
    merged AS (
      SELECT COALESCE(b.n_name, d.n_name) AS n_name,
             CAST(COALESCE(b.cnt, 0) AS BIGINT) AS base_cnt,
             CAST(COALESCE(d.cnt, 0) AS BIGINT) AS delta_cnt,
             CAST(COALESCE(b.cnt, 0) + COALESCE(d.cnt, 0) AS BIGINT) AS merged_cnt,
             CAST(COALESCE(b.c_cents, 0) + COALESCE(d.c_cents, 0)
                  AS DECIMAL(28, 0)) AS merged_cents,
             CAST(COALESCE(d.c_cents, 0) AS DECIMAL(28, 0)) AS delta_cents
      FROM base b FULL OUTER JOIN delta d ON b.n_name = d.n_name
    ),
    full_v AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS full_cnt,
             CAST(SUM(CAST(cents AS DECIMAL(28, 0))) AS DECIMAL(28, 0)) AS full_cents
      FROM enriched GROUP BY n_name
    )
    SELECT m.n_name, m.base_cnt, m.delta_cnt, m.merged_cnt, f.full_cnt,
           CASE WHEN m.merged_cnt = f.full_cnt THEN 1 ELSE 0 END AS cnt_consistent,
           ROUND(CAST(m.merged_cents AS DOUBLE) / 100.0e0, 2) AS merged_revenue,
           ROUND(CAST(f.full_cents AS DOUBLE) / 100.0e0, 2) AS full_revenue,
           CASE WHEN m.merged_cents = f.full_cents THEN 1 ELSE 0 END AS rev_consistent,
           ROUND(CAST(m.delta_cents AS DOUBLE)
                 / greatest(abs(CAST(m.merged_cents AS DOUBLE)), 1e-9), 6)
             AS delta_rev_share
    FROM merged m JOIN full_v f ON f.n_name = m.n_name
    ORDER BY m.n_name
"""


@register(
    "ivm_join_delta",
    oracle=_IVM_JOIN_SQL.format(cut="DATE '2001-01-01'"),
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(_IVM_JOIN_SQL.format(cut="DATE '2001-01-01'"))


# --------------------------------------------------------------------------
# orders_seasonal_naive_mase — forecast-accuracy table for the monthly
# revenue series: the seasonal-naive forecast (same month last year,
# lag 12 over the monthly census) scored with MASE (Hyndman-Koehler:
# absolute error scaled by the in-sample MAE of the ONE-step random
# walk, so mase < 1 means seasonal-naive beats the walk) and per-month
# sMAPE. Scale: the fact scan collapses to the ~80-row (year, month)
# census before any window — the LAG/scale windows run over months,
# never orders. Determinism: monthly revenue is exact DECIMAL cents;
# both LAG errors stay integer cents; the scale MAE is one exact-int
# division; mase/smape are scalar IEEE on exact inputs. Non-vacuous at
# sf0.01 (measured): monthly revenue swings make abs_err/mase/smape
# vary per row.
_MASE_SQL = """
    WITH monthly AS (
      SELECT {yr} AS yr, {mon} AS mon,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(28, 0)))
                  AS DECIMAL(28, 0)) AS cents
      FROM orders GROUP BY {yr}, {mon}
    ),
    seq AS (
      SELECT yr, mon, cents,
             LAG(cents, 12) OVER (ORDER BY yr, mon) AS fcast_cents,
             abs(cents - LAG(cents, 1) OVER (ORDER BY yr, mon)) AS walk_err
      FROM monthly
    ),
    scored AS (
      -- the global random-walk MAE rides a window over the SAME
      -- ~80-row census (one scan of orders total; the lazy two-leg CTE
      -- spelling re-scanned the fact table for an 80-row scalar)
      SELECT yr, mon, cents, fcast_cents,
             CAST(SUM(CAST(walk_err AS DECIMAL(28, 0))) OVER () AS DOUBLE)
               / CAST(SUM(CASE WHEN walk_err IS NOT NULL THEN 1 ELSE 0 END)
                      OVER () AS DOUBLE) AS walk_mae_cents
      FROM seq
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(mon AS BIGINT) AS mon,
           ROUND(CAST(cents AS DOUBLE) / 100.0e0, 2) AS revenue,
           ROUND(CAST(fcast_cents AS DOUBLE) / 100.0e0, 2) AS forecast,
           ROUND(abs(CAST(cents - fcast_cents AS DOUBLE)) / 100.0e0, 2)
             AS abs_err,
           ROUND(abs(CAST(cents - fcast_cents AS DOUBLE))
                 / greatest(walk_mae_cents, 1e-9), 6) AS mase,
           ROUND(2.0e0 * abs(CAST(cents - fcast_cents AS DOUBLE))
                 / greatest(CAST(cents AS DOUBLE)
                            + CAST(fcast_cents AS DOUBLE), 1e-9), 6)
             AS smape
    FROM scored
    WHERE fcast_cents IS NOT NULL
    ORDER BY yr, mon
"""


@register(
    "orders_seasonal_naive_mase",
    oracle=_MASE_SQL.format(
        yr="EXTRACT(year FROM o_orderdate)", mon="EXTRACT(month FROM o_orderdate)"
    ),
)
def orders_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _MASE_SQL.format(yr="year(o_orderdate)", mon="month(o_orderdate)")
    )


# --------------------------------------------------------------------------
# events_chisq_independence — Pearson chi-square test of independence
# between event_type and daypart (the contingency-table companion to
# events_anova_value/events_ks_test): per-cell observed counts, expected
# counts under independence (row_total * col_total / N), per-cell
# contributions, and the global chi-square + Cramer's V as repeated
# scalars. Scale: the events scan collapses to the 20-cell contingency
# census (5 types x 4 dayparts) before any window — margins and the
# global sum run over cells, never events. Determinism: observed counts
# are exact BIGINT; expected/contribution are scalar IEEE on exact
# inputs with a fixed operation order; the global chi2 sums the
# ROUND(...,6) contributions as exact DECIMAL(38,6) (order-independent)
# before the final DOUBLE cast. Non-vacuous at sf0.01 (measured):
# observed counts and contributions vary per cell (sampling noise gives
# nonzero, distinct contributions even under a near-uniform feed).
_CHISQ_SQL = """
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN {hr} < 6 THEN 'night'
                  WHEN {hr} < 12 THEN 'morning'
                  WHEN {hr} < 18 THEN 'afternoon'
                  ELSE 'evening' END AS daypart
      FROM events
    ),
    cells AS (
      SELECT event_type, daypart, CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged GROUP BY event_type, daypart
    ),
    -- margins AND grand totals ride windows over the SAME 20-cell
    -- census (a tot CTE re-referencing cells would re-scan events)
    ranked AS (
      SELECT event_type, daypart, n,
             DENSE_RANK() OVER (ORDER BY event_type) AS rid,
             DENSE_RANK() OVER (ORDER BY daypart) AS cid
      FROM cells
    ),
    margins AS (
      SELECT event_type, daypart, n,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS r_tot,
             CAST(SUM(n) OVER (PARTITION BY daypart) AS DOUBLE) AS c_tot,
             CAST(SUM(n) OVER () AS DOUBLE) AS n_total,
             CAST(MAX(rid) OVER () AS BIGINT) AS n_rows,
             CAST(MAX(cid) OVER () AS BIGINT) AS n_cols
      FROM ranked
    ),
    scored AS (
      SELECT m.event_type, m.daypart, m.n AS observed,
             m.r_tot * m.c_tot / m.n_total AS expected,
             (CAST(m.n AS DOUBLE) - m.r_tot * m.c_tot / m.n_total)
               * (CAST(m.n AS DOUBLE) - m.r_tot * m.c_tot / m.n_total)
               / (m.r_tot * m.c_tot / m.n_total) AS contrib,
             m.n_total, m.n_rows, m.n_cols
      FROM margins m
    ),
    global_sum AS (
      SELECT event_type, daypart, observed, expected, contrib,
             n_total, n_rows, n_cols,
             CAST(SUM(CAST(ROUND(contrib, 6) AS DECIMAL(38, 6))) OVER ()
                  AS DOUBLE) AS chi2
      FROM scored
    )
    SELECT event_type, daypart, observed,
           ROUND(expected, 6) AS expected,
           ROUND(contrib, 6) AS contribution,
           ROUND(chi2, 6) AS chi2_stat,
           CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
           ROUND(sqrt(chi2 / (n_total
                 * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 6)
             AS cramers_v
    FROM global_sum
    ORDER BY event_type, daypart
"""


@register(
    "events_chisq_independence",
    oracle=_CHISQ_SQL.format(hr="EXTRACT(hour FROM ts)"),
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_CHISQ_SQL.format(hr="hour(ts)"))


# --------------------------------------------------------------------------
# events_bootstrap_ci — deterministic Poisson bootstrap for the mean
# purchase value (the production-scale bootstrap: per (event, replicate)
# the resample weight is Poisson(1)-distributed but drawn from
# md5(event_id # rep), so both engines build bit-identical replicates
# with no RNG and no driver-side resampling). B=32 replicates; each
# replicate mean is an exact ratio of integer sums (value quantized to
# cents); the CI is the [2nd, 31st] order statistic of the replicate
# means (a ~94% interval). Scale: the explode is a bounded 32x map-side
# fan-out immediately collapsed by a partial-aggregating groupBy on rep
# — the canonical way to bootstrap a 100TB fact table without moving
# it; the order-statistic windows run over the 32-row replicate frame.
# Non-vacuous at sf0.01 (measured): replicate means vary (the md5
# weights differ per rep) and the CI straddles the point mean.
_BOOT_SQL = """
    WITH purchases AS (
      SELECT event_id, CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    expanded AS (
      SELECT p.cents, r.rep,
             CASE WHEN ({h}) % 1000 < 368 THEN 0
                  WHEN ({h}) % 1000 < 736 THEN 1
                  WHEN ({h}) % 1000 < 920 THEN 2
                  WHEN ({h}) % 1000 < 981 THEN 3
                  ELSE 4 END AS w
      FROM purchases p
      CROSS JOIN (SELECT {rep_expr} AS rep) r
    ),
    reps AS (
      SELECT rep, CAST(SUM(w) AS BIGINT) AS n_eff,
             CAST(SUM(CAST(w AS DECIMAL(28, 0)) * cents) AS DOUBLE)
               / CAST(SUM(w) AS DOUBLE) / 100.0e0 AS rep_mean
      FROM expanded GROUP BY rep
    ),
    ranked AS (
      SELECT rep, n_eff, rep_mean,
             CAST(ROW_NUMBER() OVER (ORDER BY rep_mean, rep) AS BIGINT) AS rnk
      FROM reps
    )
    SELECT CAST(rep AS BIGINT) AS rep, n_eff, ROUND(rep_mean, 6) AS rep_mean,
           ROUND(MAX(CASE WHEN rnk = 2 THEN rep_mean END) OVER (), 6) AS ci_lo,
           ROUND(MAX(CASE WHEN rnk = 31 THEN rep_mean END) OVER (), 6) AS ci_hi
    FROM ranked
    ORDER BY rep
"""


def _boot_sql(engine: str) -> str:
    if engine == "spark":
        rep_expr = "explode(sequence(0, 31))"
        h = ("CAST(conv(substring(md5(CAST(p.event_id AS STRING) || '#' || "
             "CAST(r.rep AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    else:
        rep_expr = "unnest(generate_series(0, 31))"
        h = ("CAST('0x' || substring(md5(CAST(p.event_id AS VARCHAR) || '#' || "
             "CAST(r.rep AS VARCHAR)), 1, 8) AS BIGINT)")
    return _BOOT_SQL.format(h=h, rep_expr=rep_expr)


@register("events_bootstrap_ci", oracle=_boot_sql("duck"))
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_boot_sql("spark"))


# --------------------------------------------------------------------------
# basket_triples_apriori — level-3 frequent itemsets by textbook
# a-priori generate-and-prune (Agrawal-Srikant): the frequent-PAIR
# census self-joins on a shared first item to GENERATE
# (a,b,c) candidates, the third pair (b,c) PRUNES them (every subset of
# a frequent itemset must be frequent), and the survivors are counted
# against the order-item table — the output is the level-3 CANDIDATE
# SUPPORT TABLE (zero-support survivors included via the left join:
# they are exactly the candidates a-priori pays to count and discards,
# the cost the prune exists to bound). The items projection AND the
# frequent-pair census are persisted in Spark (the pair census is the
# fact-scale shuffle; the lazy CTE spelling would re-run it three
# times), MATERIALIZED in DuckDB. Min-support is RELATIVE (round-7
# redesign): threshold = GREATEST(2, ceil(n_orders/100000)) — at sf0.01
# that is exactly the old absolute 2 (identical results), but a
# threshold that scales with the order count is what makes a-priori
# scale-stable: the 16x perturbed-replica corpus multiplies every
# pair's support by 16, and the absolute spelling would have promoted
# all ~1.2M support-1 pairs into the candidate generation (measured:
# ~49M generated candidates at 16x), where the relative spelling
# (thr=24 at 16x) keeps exactly the genuinely-frequent pairs. Determinism:
# all supports exact integer counts; the threshold is integer
# ceil-division (no float boundary); confidences exact-int ratios.
# Non-vacuous at sf0.01 (measured): 4468 candidates generate, 61
# survive the prune, 52 have support — n_abc spans {0,1,2}, pair
# supports 2-3, confidences {0, 1/3, 1/2, 1} — every metric column
# varies.
# generate + prune (ends at the pruned candidate rows). Split from the
# report so the Spark runner can checkpoint `pruned`: the report
# references it twice (support count + final select), and Spark
# re-evaluates CTE references — the round-7 profile measured the
# generate/prune leg at ~4.5 s per evaluation at sf0.1 while pruned
# itself held ONE row.
_APRIORI_CAND = """
    cand AS (
      SELECT p1.pa, p1.pb, p2.pb AS pc, p1.n_ab, p2.n_ab AS n_ac
      FROM {fp} p1
      JOIN {fp} p2 ON p2.pa = p1.pa AND p2.pb > p1.pb
    ),
    pruned AS {MAT}(
      SELECT c.pa, c.pb, c.pc, c.n_ab, c.n_ac, p3.n_ab AS n_bc
      FROM cand c
      JOIN {fp} p3 ON p3.pa = c.pb AND p3.pb = c.pc
    )"""

# candidate-driven semi-join pruning (round-7 16x sweep): the support
# count only needs item rows whose part appears in a pruned candidate,
# so the fact table is filtered through the (tiny) candidate keyset
# BEFORE the three-way join — the unfiltered spelling shuffled the full
# items table three times and went superlinear at 16x (34 -> 221 s);
# the filtered spelling is the 100TB design (broadcast semi-join
# reduction, then joins over candidate-bounded rows only).
_APRIORI_FILTER = """
    keyset AS (
      SELECT pa AS k FROM {pruned}
      UNION SELECT pb FROM {pruned}
      UNION SELECT pc FROM {pruned}
    ),
    items_f AS (
      SELECT DISTINCT i.l_orderkey, i.l_partkey
      FROM {items} i JOIN keyset s ON i.l_partkey = s.k
    )"""

_APRIORI_REPORT = """
    support AS (
      SELECT t.pa, t.pb, t.pc, CAST(COUNT(*) AS BIGINT) AS n_abc
      FROM {pruned} t
      JOIN {itemsf} a ON a.l_partkey = t.pa
      JOIN {itemsf} b ON b.l_orderkey = a.l_orderkey AND b.l_partkey = t.pb
      JOIN {itemsf} c ON c.l_orderkey = a.l_orderkey AND c.l_partkey = t.pc
      GROUP BY t.pa, t.pb, t.pc
    )
    SELECT p.pa AS part_a, p.pb AS part_b, p.pc AS part_c,
           p.n_ab, p.n_ac, p.n_bc,
           CAST(COALESCE(s.n_abc, 0) AS BIGINT) AS n_abc,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_pruned_candidates,
           ROUND(CAST(COALESCE(s.n_abc, 0) AS DOUBLE) / p.n_ab, 6) AS conf_ab_c,
           ROUND(CAST(COALESCE(s.n_abc, 0) AS DOUBLE) / p.n_ac, 6) AS conf_ac_b,
           ROUND(CAST(COALESCE(s.n_abc, 0) AS DOUBLE) / p.n_bc, 6) AS conf_bc_a
    FROM {pruned} p
    LEFT JOIN support s
      ON s.pa = p.pa AND s.pb = p.pb AND s.pc = p.pc
    ORDER BY n_abc DESC, part_a, part_b, part_c
"""

# relative min-support: GREATEST(2, ceil(n_orders/100000)) — ~0.001% of
# orders; identical to the old absolute 2 at sf0.01 AND sf0.1 (both
# census thresholds land on 2), scale-stable above ({DIV} is the
# engine's integer division: DIV / //). Calibration measured round 9
# (ADVICE r8): on the 16x/64x replica corpora the threshold (24/95)
# and every pair's count (x16/x64) grow in near-lockstep, so the
# persisted frequent-pair census is CONSTANT at 3,573 pairs across
# 1x/16x/64x — the valve tracks the base co-occurrence distribution,
# not rows (docs/SCALE.md round-9 table).
_APRIORI_THR = (
    "SELECT GREATEST(CAST(2 AS BIGINT), CAST((COUNT(DISTINCT l_orderkey)"
    " + 99999) {DIV} 100000 AS BIGINT)) FROM {items}"
)

_APRIORI_PAIRS = """
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM {items} a
      JOIN {items} b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= ({thr})
"""

_APRIORI_ORACLE = (
    "WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),"
    + "freq_pairs AS MATERIALIZED ("
    + _APRIORI_PAIRS.format(
        items="items", thr=_APRIORI_THR.format(items="items", DIV="//")
    )
    + "),"
    + _APRIORI_CAND.format(fp="freq_pairs", MAT="MATERIALIZED ")
    + ","
    + _APRIORI_FILTER.format(items="items", pruned="pruned")
    + ","
    + _APRIORI_REPORT.format(itemsf="items_f", pruned="pruned")
)


@register("basket_triples_apriori", oracle=_APRIORI_ORACLE)
def basket_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")

    def items():
        # RAW (orderkey, partkey) projection, not a distinct+persist: the
        # census dedups inside collect_set and the support side dedups
        # after the keyset filter — the corpus-wide DISTINCT shuffle was
        # a full extra exchange the plan never needed (round-7 16x sweep)
        return stage(spark, sf_dir, "apriori_items", lambda: li.select("l_orderkey", "l_partkey"), "view")

    def freq_pairs():
        # Spark-side pair census: ONE exchange (groupBy orderkey) + pure
        # map-side pair combos over the bounded per-order item arrays
        # (max ~13 items/order measured), instead of the distinct-then-
        # self-join spelling the oracle keeps. Same result; local[32]
        # timing is within noise of the join spelling (A/B measured
        # 3.3/1.7 s vs 3.4/1.8 s at sf0.1 — shuffles are cheap in one
        # JVM), kept because the plan carries one fewer fact-scale
        # exchange + no sort-merge join, which is what bills at 100TB.
        # Checkpointed, not persist+count (round-10): the candidate
        # generate/prune SQL references this frame 3x through the temp
        # view, and Spark 4.1's best-effort InMemoryRelation matching
        # MISSED here (the HAVING's scalar threshold subquery survives
        # canonicalization differently per reference) — the prune stage
        # re-ran the census per reference. Measured min-of-2 interleaved
        # at sf0.1: census 4.2 -> 2.0 s (no separate count action),
        # prune 3.2 -> 0.24 s.
        return stage(
            spark, sf_dir, "apriori_pairs",
            lambda: spark.sql(f"""
                WITH per_order AS (
                  SELECT l_orderkey, sort_array(collect_set(l_partkey)) AS parts
                  FROM {items()} GROUP BY l_orderkey
                ),
                pair_rows AS (
                  SELECT explode(flatten(transform(
                           sequence(1, size(parts) - 1),
                           i -> transform(sequence(i + 1, size(parts)),
                                          j -> struct(element_at(parts, i) AS pa,
                                                      element_at(parts, j) AS pb))
                         ))) AS pr
                  FROM per_order WHERE size(parts) >= 2
                )
                SELECT pr.pa AS pa, pr.pb AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM pair_rows GROUP BY pr.pa, pr.pb
                HAVING COUNT(*) >= ({_APRIORI_THR.format(items=items(), DIV="DIV")})
            """),
            "checkpoint",
        )

    def pruned():
        # checkpoint the generated+pruned candidates: the report reads
        # them twice and the generate/prune joins cost ~4.5 s per lazy
        # re-evaluation at sf0.1 (measured round 7) for a candidate-
        # bounded (tiny) frame
        return stage(
            spark, sf_dir, "apriori_pruned",
            lambda: spark.sql(
                "WITH " + _APRIORI_CAND.format(fp=freq_pairs(), MAT="")
                + "\n    SELECT * FROM pruned"
            ),
            "checkpoint",
        )

    # candidate-keyset-filtered fact rows, checkpointed: the support
    # three-way join reads them three times
    ifview = stage(
        spark, sf_dir, "apriori_itemsf",
        lambda: spark.sql(
            "WITH " + _APRIORI_FILTER.format(items=items(), pruned=pruned()).lstrip()
            + "\n    SELECT * FROM items_f"
        ),
        "checkpoint",
    )
    return spark.sql("WITH " + _APRIORI_REPORT.format(itemsf=ifview, pruned=pruned()))


# --------------------------------------------------------------------------
# lineitem_ols2 — TWO-regressor OLS per return flag via exact
# sufficient statistics (the distributed-ML normal-equations pattern;
# the multi-feature companion to discount_elasticity_ols): regress
# extended price (cents) on quantity and discount points, all nine
# moment sums computed as exact DECIMAL over quantized integers in ONE
# grouped pass with map-side partials, then the 2x2 normal equations
# solved in scalar IEEE arithmetic on the 3-row group frame.
# Determinism: identical moment integers → identical doubles →
# identical closed-form solve in both engines (the expression is
# written once). Scale: the fact scan collapses to 3 rows of constant-
# size state; nothing after the census touches data scale. Non-vacuous
# at sf0.01 (measured): betas/intercepts/r2 all differ per flag; on
# this synthetic book price is INDEPENDENT of quantity/discount, so the
# fit doubles as a null calibration — r2 sits at noise level (~1e-4)
# and the betas scatter around 0, which the per-flag variation makes a
# real (hash-carrying) signal rather than a constant.
_OLS2_SQL = """
    WITH moments AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(q AS DECIMAL(38, 0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(d AS DECIMAL(38, 0))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(y AS DECIMAL(38, 0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(q * q AS DECIMAL(38, 0))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(d * d AS DECIMAL(38, 0))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(q * d AS DECIMAL(38, 0))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(q * y AS DECIMAL(38, 0))) AS DOUBLE) AS s1y,
             CAST(SUM(CAST(d * y AS DECIMAL(38, 0))) AS DOUBLE) AS s2y,
             CAST(SUM(CAST(y * y AS DECIMAL(38, 0))) AS DOUBLE) AS syy
      FROM (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity) AS BIGINT) AS q,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
      ) z
      GROUP BY l_returnflag
    ),
    centered AS (
      SELECT l_returnflag, n, s1, s2, sy,
             s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             syy - sy * sy / n AS cyy
      FROM moments
    ),
    solved AS (
      SELECT l_returnflag, n, s1, s2, sy, c1y, c2y, cyy,
             (c22 * c1y - c12 * c2y) / NULLIF(c11 * c22 - c12 * c12, 0.0e0) AS b1,
             (c11 * c2y - c12 * c1y) / NULLIF(c11 * c22 - c12 * c12, 0.0e0) AS b2
      FROM centered
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           ROUND(b1 / 100.0e0, 6) AS beta_qty_dollars,
           ROUND(b2 / 100.0e0, 6) AS beta_discount_pt_dollars,
           ROUND((sy - b1 * s1 - b2 * s2) / n / 100.0e0, 6) AS intercept_dollars,
           ROUND((b1 * c1y + b2 * c2y) / NULLIF(cyy, 0.0e0), 6) AS r2
    FROM solved
    ORDER BY l_returnflag
"""


@register("lineitem_ols2", oracle=_OLS2_SQL)
def lineitem_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_OLS2_SQL)


# --------------------------------------------------------------------------
# lineitem_corr_matrix — Pearson correlation matrix over the four
# lineitem measures (quantity, extended price, discount, tax) from ONE
# exact-moment census pass: 4 sums, 4 sums of squares, 6 cross sums as
# DECIMAL over quantized integers, then every pairwise r in scalar IEEE
# on the single moment row (wide output — a 6-reference tall spelling
# would re-run the census per pair). sqrt is IEEE-exact cross-engine.
# Scale: one scan, constant-size state, map-side partials. Non-vacuous
# at sf0.01 (measured): r_qty_price ~0.87 (price is quantity-driven),
# the discount/tax pairs hover near 0 — six distinct values.
_CORR_SQL = """
    WITH moments AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(q AS DECIMAL(38, 0))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(p AS DECIMAL(38, 0))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(d AS DECIMAL(38, 0))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(t AS DECIMAL(38, 0))) AS DOUBLE) AS st,
             CAST(SUM(CAST(q * q AS DECIMAL(38, 0))) AS DOUBLE) AS sqq,
             CAST(SUM(CAST(p * p AS DECIMAL(38, 0))) AS DOUBLE) AS spp,
             CAST(SUM(CAST(d * d AS DECIMAL(38, 0))) AS DOUBLE) AS sdd,
             CAST(SUM(CAST(t * t AS DECIMAL(38, 0))) AS DOUBLE) AS stt,
             CAST(SUM(CAST(q * p AS DECIMAL(38, 0))) AS DOUBLE) AS sqp,
             CAST(SUM(CAST(q * d AS DECIMAL(38, 0))) AS DOUBLE) AS sqd,
             CAST(SUM(CAST(q * t AS DECIMAL(38, 0))) AS DOUBLE) AS sqt,
             CAST(SUM(CAST(p * d AS DECIMAL(38, 0))) AS DOUBLE) AS spd,
             CAST(SUM(CAST(p * t AS DECIMAL(38, 0))) AS DOUBLE) AS spt,
             CAST(SUM(CAST(d * t AS DECIMAL(38, 0))) AS DOUBLE) AS sdt
      FROM (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
               CAST(ROUND(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
      ) z
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sqp - sq * sp)
                 / NULLIF(sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp), 0.0e0), 6)
             AS r_qty_price,
           ROUND((n * sqd - sq * sd)
                 / NULLIF(sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd), 0.0e0), 6)
             AS r_qty_discount,
           ROUND((n * sqt - sq * st)
                 / NULLIF(sqrt(n * sqq - sq * sq) * sqrt(n * stt - st * st), 0.0e0), 6)
             AS r_qty_tax,
           ROUND((n * spd - sp * sd)
                 / NULLIF(sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd), 0.0e0), 6)
             AS r_price_discount,
           ROUND((n * spt - sp * st)
                 / NULLIF(sqrt(n * spp - sp * sp) * sqrt(n * stt - st * st), 0.0e0), 6)
             AS r_price_tax,
           ROUND((n * sdt - sd * st)
                 / NULLIF(sqrt(n * sdd - sd * sd) * sqrt(n * stt - st * st), 0.0e0), 6)
             AS r_discount_tax
    FROM moments
"""


@register("lineitem_corr_matrix", oracle=_CORR_SQL)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_CORR_SQL)


# --------------------------------------------------------------------------
# events_sequence_trigrams — second-order sequential dependence test
# (the level-3 companion to events_markov_transitions): consecutive
# event-type TRIGRAMS per user (two LEADs over the per-user timeline),
# scored against the first-order Markov expectation derived from the
# SAME census — expected(abc) = n_ab* x n_*bc / n_*b*, all three
# marginals as windows over the 125-row trigram census, so the lift
# tests whether knowing a (two steps back) changes c beyond what b
# predicts. Determinism: counts exact integers; expected/lift exact-int
# scalar ratios. Scale: the LEAD windows partition by user (millions of
# small partitions, no skew); everything after the census is 125-row
# window math. Non-vacuous at sf0.01 (measured): observed counts and
# lifts vary per trigram (the feed is near-memoryless, so lifts hover
# around 1 at distinct noise values — and any real second-order
# structure would surface as lift deviations).
_TRIGRAM_SQL = """
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events
    ),
    census AS (
      SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY t1, t2, t3
    ),
    marginal AS (
      SELECT t1, t2, t3, n_obs,
             CAST(SUM(n_obs) OVER (PARTITION BY t1, t2) AS BIGINT) AS n_ab,
             CAST(SUM(n_obs) OVER (PARTITION BY t2, t3) AS BIGINT) AS n_bc,
             CAST(SUM(n_obs) OVER (PARTITION BY t2) AS BIGINT) AS n_b
      FROM census
    )
    SELECT t1, t2, t3, n_obs, n_ab, n_bc, n_b,
           ROUND(CAST(n_ab AS DOUBLE) * n_bc / n_b, 6) AS expected_markov1,
           ROUND(CAST(n_obs AS DOUBLE) * n_b
                 / (CAST(n_ab AS DOUBLE) * n_bc), 6) AS lift
    FROM marginal
    ORDER BY t1, t2, t3
"""


@register("events_sequence_trigrams", oracle=_TRIGRAM_SQL)
def events_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_TRIGRAM_SQL)


# --------------------------------------------------------------------------
# orders_littles_law — queueing-theory consistency audit (Little's law:
# L = lambda x W): per month, order arrivals, mean time-in-system (order
# date to last line shipment, inclusive days), and the average
# work-in-progress computed as the exact WIP-days integral (interval
# overlap of every order's [start, done] span with the month window,
# via a broadcast range join against the ~80-row month spine). The
# littles_ratio = wip_days / lead_days_of_month_starters is exactly
# L/(lambda x W) after cancellation — ~1 in steady state, deviating at
# the book's boundaries and under arrival trends, which is what the
# audit surfaces. On THIS synthetic book shipdates are drawn
# independently of order dates (measured lead ~1900 days for 1995
# starters, shrinking toward the horizon), so the ratio sweeps
# 0.008 -> 49 across months — the audit flagging a wildly
# non-stationary system is the correct, non-vacuous answer here.
# Scale: completion is one grouped pass over lineitem;
# the spine join is an ~80-row broadcast with bounded fan-out (an order
# overlaps only its few in-flight months); arrivals/lead sums ride the
# SAME joined frame (an order always overlaps its start month), so
# spans is consumed once. All metrics are exact-integer-day ratios.
# Non-vacuous at sf0.01 (measured): arrivals, lead, WIP, and the ratio
# all vary by month, with boundary months visibly off 1.
_LITTLE_SQL = """
    WITH completion AS (
      SELECT l_orderkey AS okey, MAX({dayl}) AS done_day
      FROM lineitem GROUP BY l_orderkey
    ),
    spans AS (
      SELECT {dayo} AS start_day, c.done_day
      FROM orders o JOIN completion c ON c.okey = o.o_orderkey
    ),
    spine0 AS (
      SELECT DISTINCT {yr} AS yr, {mon} AS mon, {mstart} AS mstart
      FROM orders
    ),
    spine AS (
      SELECT yr, mon, mstart,
             LEAD(mstart) OVER (ORDER BY yr, mon) AS mend
      FROM spine0
    ),
    joined AS (
      SELECT sp.yr, sp.mon, sp.mstart, sp.mend,
             s.start_day, s.done_day,
             least(s.done_day + 1, sp.mend) - greatest(s.start_day, sp.mstart)
               AS wip_days,
             CASE WHEN s.start_day >= sp.mstart AND s.start_day < sp.mend
                  THEN 1 ELSE 0 END AS starts_here
      FROM spine sp
      JOIN spans s ON s.start_day < sp.mend AND s.done_day + 1 > sp.mstart
      WHERE sp.mend IS NOT NULL
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(mon AS BIGINT) AS mon,
           CAST(SUM(starts_here) AS BIGINT) AS arrivals,
           CAST(MAX(mend - mstart) AS BIGINT) AS days_in_month,
           ROUND(CAST(SUM(CASE WHEN starts_here = 1
                               THEN done_day - start_day + 1 ELSE 0 END)
                      AS DOUBLE) / SUM(starts_here), 6) AS mean_lead_days,
           ROUND(CAST(SUM(wip_days) AS DOUBLE) / MAX(mend - mstart), 6)
             AS avg_wip,
           ROUND(CAST(SUM(wip_days) AS DOUBLE)
                 / SUM(CASE WHEN starts_here = 1
                            THEN done_day - start_day + 1 ELSE 0 END), 6)
             AS littles_ratio
    FROM joined
    GROUP BY yr, mon
    ORDER BY yr, mon
"""


@register(
    "orders_littles_law",
    oracle=_LITTLE_SQL.format(
        dayo="CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400",
        dayl="CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400",
        mstart="CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) // 86400",
        yr="EXTRACT(year FROM o_orderdate)",
        mon="EXTRACT(month FROM o_orderdate)",
    ),
)
def orders_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        _LITTLE_SQL.format(
            dayo="CAST(unix_timestamp(o.o_orderdate) AS BIGINT) DIV 86400",
            dayl="CAST(unix_timestamp(l_shipdate) AS BIGINT) DIV 86400",
            mstart="CAST(unix_timestamp(date_trunc('month', o_orderdate)) AS BIGINT) DIV 86400",
            yr="year(o_orderdate)",
            mon="month(o_orderdate)",
        )
    )


# --------------------------------------------------------------------------
# events_funnel_wilson_ci — the ordered funnel (same MIN-after-
# predecessor semantics as events_funnel) with WILSON score intervals
# on each step's conversion rate (z=1.96): the uncertainty layer a
# growth dashboard needs before calling a step regression real. Wilson
# beats the normal approximation at the small-n tail and is pure
# sqrt/scalar arithmetic — deterministic cross-engine (no erf/exp).
# Wide single-row output: the step counts and both steps' (rate, lo,
# hi), so the funnel CTEs are consumed once each beyond the funnel's
# own scalar counts. Scale: identical to events_funnel — keyed aggs
# co-partitioned on user_id; the CI math is scalar on three counts.
# Non-vacuous at sf0.01 (measured): rates ~0.5/0.4 with CI widths ~0.05
# that genuinely differ per step.
def _wilson(k: str, n: str) -> tuple[str, str]:
    z2 = "3.8415984e0"  # 1.96^2
    p = f"(CAST({k} AS DOUBLE) / {n})"
    denom = f"(1.0e0 + {z2} / {n})"
    center = f"(({p} + {z2} / (2.0e0 * {n}))) / {denom}"
    half = (
        f"(1.96e0 * sqrt({p} * (1.0e0 - {p}) / {n}"
        f" + {z2} / (4.0e0 * {n} * {n}))) / {denom}"
    )
    return f"ROUND({center} - {half}, 6)", f"ROUND({center} + {half}, 6)"


def _funnel_wilson_sql() -> str:
    lo1, hi1 = _wilson("nc", "nv")
    lo2, hi2 = _wilson("np", "nc")
    return f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM v) AS nv,
             (SELECT COUNT(*) FROM c) AS nc,
             (SELECT COUNT(*) FROM p) AS np
    )
    SELECT CAST(nv AS BIGINT) AS n_view,
           CAST(nc AS BIGINT) AS n_click_after_view,
           CAST(np AS BIGINT) AS n_purchase_after_click,
           ROUND(CAST(nc AS DOUBLE) / nv, 6) AS rate_view_click,
           {lo1} AS wilson_lo_view_click,
           {hi1} AS wilson_hi_view_click,
           ROUND(CAST(np AS DOUBLE) / nc, 6) AS rate_click_purchase,
           {lo2} AS wilson_lo_click_purchase,
           {hi2} AS wilson_hi_click_purchase
    FROM counts
    """


@register("events_funnel_wilson_ci", oracle=_funnel_wilson_sql())
def events_funnel_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_funnel_wilson_sql())


# --------------------------------------------------------------------------
# events_shapley_attribution — exact data-driven Shapley attribution
# over three touch channels (view / click / signup counted BEFORE the
# user's first purchase — the classic attribution window): the
# coalition value v(S) is the mean lifetime purchase spend of users
# whose exact pre-purchase exposure set is S, and each channel's
# Shapley value applies the n=3 closed form (weights 1/3, 1/6, 1/6,
# 1/3) to the 8-group census. Conversion-probability Shapley is
# DEGENERATE here — every user converts (measured), so v(S) would be
# identically 1 — which is why the value function is spend (all eight
# exposure masks are populated, 8-35 users each, with distinct group
# means). Efficiency check rides along: sum of Shapley values equals
# v(all) - v(none) by construction. Determinism: group sums are exact
# DECIMAL cents, means exact ratios, the closed form is fixed-order
# scalar IEEE. Scale: two keyed passes over events (first-purchase
# frame + exposure/spend census co-partitioned on user_id) collapsing
# to 8 rows; everything after is scalar. Wide single-row output (a
# tall spelling would re-expand the census per channel).
_SHAPLEY_SQL = """
    WITH firstp AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
      FROM events GROUP BY user_id
    ),
    expo AS (
      SELECT e.user_id,
             MAX(CASE WHEN e.event_type = 'view'
                       AND (f.fp IS NULL OR e.ts < f.fp) THEN 1 ELSE 0 END)
               AS has_v,
             MAX(CASE WHEN e.event_type = 'click'
                       AND (f.fp IS NULL OR e.ts < f.fp) THEN 2 ELSE 0 END)
               AS has_c,
             MAX(CASE WHEN e.event_type = 'signup'
                       AND (f.fp IS NULL OR e.ts < f.fp) THEN 4 ELSE 0 END)
               AS has_s,
             CAST(SUM(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(floor(e.value * 100.0e0 + 0.5e0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS spend_cents
      FROM events e JOIN firstp f ON f.user_id = e.user_id
      GROUP BY e.user_id
    ),
    census AS (
      SELECT has_v + has_c + has_s AS mask,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(spend_cents AS DECIMAL(28, 0))) AS DOUBLE) AS cents
      FROM expo GROUP BY has_v + has_c + has_s
    ),
    wide AS (
      SELECT {vs}
      FROM census
    )
    SELECT ROUND((v1 - v0) / 3.0e0 + (v3 - v2) / 6.0e0
                 + (v5 - v4) / 6.0e0 + (v7 - v6) / 3.0e0, 6) AS shapley_view,
           ROUND((v2 - v0) / 3.0e0 + (v3 - v1) / 6.0e0
                 + (v6 - v4) / 6.0e0 + (v7 - v5) / 3.0e0, 6) AS shapley_click,
           ROUND((v4 - v0) / 3.0e0 + (v5 - v1) / 6.0e0
                 + (v6 - v2) / 6.0e0 + (v7 - v3) / 3.0e0, 6) AS shapley_signup,
           ROUND(v0, 6) AS baseline_spend,
           ROUND(v7 - v0, 6) AS grand_total_effect
    FROM wide
"""
_SHAPLEY_VS = ", ".join(
    f"MAX(CASE WHEN mask = {k} THEN cents / n_users / 100.0e0 ELSE NULL END) AS v{k}"
    for k in range(8)
)


@register(
    "events_shapley_attribution",
    oracle=_SHAPLEY_SQL.format(vs=_SHAPLEY_VS),
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_SHAPLEY_SQL.format(vs=_SHAPLEY_VS))


# --------------------------------------------------------------------------
# events_ab_power_mde — experiment PLANNING table (the power-analysis
# side of the A/B family, complementing ab_test/srm/cuped/sprt which
# all analyze a finished experiment): for each candidate runtime
# horizon, the accrued user count and the minimum detectable effect on
# mean per-user spend at 80% power / 5% two-sided alpha —
# MDE = (z_0.975 + z_0.8) * sqrt(2 sigma^2 / n_per_arm), pure
# sqrt/scalar on exact moments. A conversion-RATE MDE is degenerate
# here (every user converts — measured, same fact the Shapley operator
# records), so the planned metric is spend, whose horizon-windowed
# variance genuinely grows with the window. Accrual saturates at the
# full user base within the first horizon (users are active from day
# one — measured; the constant n column is the true accrual curve of
# this feed). Scale: the 4-horizon spine is a broadcast fan-out
# collapsed by one keyed census on user_id; the feed-start scalar is a
# column-pruned MIN scan. Non-vacuous: mean/sd/MDE vary per horizon.
_POWER_SQL = """
    WITH bounds AS (SELECT MIN({day}) AS d0 FROM events e),
    spine AS (
      SELECT 7 AS h UNION ALL SELECT 14
      UNION ALL SELECT 21 UNION ALL SELECT 28
    ),
    per_user AS (
      SELECT s.h, e.user_id,
             CAST(SUM(CASE WHEN {day} < b.d0 + s.h
                            AND e.event_type = 'purchase'
                           THEN CAST(floor(e.value * 100.0e0 + 0.5e0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cents
      FROM events e CROSS JOIN bounds b CROSS JOIN spine s
      GROUP BY s.h, e.user_id
    ),
    stats AS (
      SELECT h,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(cents AS DECIMAL(28, 0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(cents * cents AS DECIMAL(38, 0))) AS DOUBLE) AS s2
      FROM per_user GROUP BY h
    )
    SELECT CAST(h AS BIGINT) AS horizon_days,
           CAST(n AS BIGINT) AS n_users_accrued,
           ROUND(s1 / n / 100.0e0, 6) AS mean_spend,
           ROUND(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0e0))
                 / 100.0e0, 6) AS sd_spend,
           ROUND(2.8016e0
                 * sqrt(2.0e0 * greatest(s2 / n - (s1 / n) * (s1 / n), 0.0e0)
                        / (n / 2.0e0)) / 100.0e0, 6) AS mde_abs_spend,
           ROUND(2.8016e0
                 * sqrt(2.0e0 * greatest(s2 / n - (s1 / n) * (s1 / n), 0.0e0)
                        / (n / 2.0e0)) / (s1 / n), 6) AS mde_rel
    FROM stats
    ORDER BY horizon_days
"""


@register(
    "events_ab_power_mde",
    oracle=_POWER_SQL.format(day="CAST(floor(epoch(e.ts)) AS BIGINT) // 86400"),
)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _POWER_SQL.format(day="CAST(unix_timestamp(e.ts) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# events_mannwhitney_u — exact Mann-Whitney U (Wilcoxon rank-sum)
# between the two md5 assignment arms' purchase values: the rank-based
# nonparametric companion to events_ab_test (mean-based) and
# events_ks_test (distribution sup-norm). Ranks come from the VALUE
# CENSUS with midrank tie handling kept exact by DOUBLING (2*midrank =
# lo+hi is always an integer), so U is exact integer arithmetic end to
# end; the normal-approximation z (with the exact tie correction) is
# the only float, pure sqrt/scalar. Scale: everything after the
# (arm, value-cents) census is bounded by the price grid; the ordered
# window runs over the census, never events. Non-vacuous at sf0.01
# (measured): U differs from its null mean by a real margin and z is a
# nonzero noise-level value.
_MWU_SQL = """
    WITH vals AS (
      SELECT ({arm}) AS arm,
             CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    census AS (
      SELECT c,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM vals GROUP BY c
    ),
    ranked AS (
      SELECT c, n0, n1, n0 + n1 AS t,
             CAST(SUM(n0 + n1) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM census
    ),
    scored AS (
      -- 2*midrank of a tie block ending at cum with t members =
      -- (cum - t + 1) + cum — integer; rank-sum doubled stays integer
      SELECT CAST(SUM(n0 * (2 * cum - t + 1)) AS BIGINT) AS two_r0,
             CAST(SUM(n0) AS BIGINT) AS n0,
             CAST(SUM(n1) AS BIGINT) AS n1,
             CAST(SUM(CAST(t AS DECIMAL(28, 0)) * t * t - t) AS DOUBLE)
               AS tie_cubes
      FROM ranked
    )
    SELECT n0 AS n_arm0, n1 AS n_arm1,
           CAST((two_r0 - n0 * (n0 + 1)) / 2 AS BIGINT) AS u_stat,
           ROUND((CAST((two_r0 - n0 * (n0 + 1)) AS DOUBLE) / 2.0e0
                  - CAST(n0 AS DOUBLE) * n1 / 2.0e0)
                 / sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0e0
                        * ((n0 + n1 + 1)
                           - tie_cubes
                             / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1 - 1)))),
                 6) AS z_score
    FROM scored
"""


@register(
    "events_mannwhitney_u",
    oracle=_MWU_SQL.format(
        arm="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2"
    ),
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _MWU_SQL.format(
            arm="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2"
        )
    )


# --------------------------------------------------------------------------
# join_order_dp_plan — textbook Selinger dynamic-programming join-order
# optimization over the 4-table chain lineitem-orders-customer-nation,
# run AS A QUERY (the engine-internals-as-data companion to
# join_strategy_advisor and cardinality_qerror_audit): measured base
# stats (row counts + join-key distinct counts, one census pass per
# table), independence-assumption cardinality estimates
# |A x B| = |A||B| / max(d_a, d_b) per edge, and the exact DP over the
# 10 connected subsets — each subset row reports its estimated
# cardinality, the best total cost (sum of intermediate cardinalities),
# and the argmin split. The planner's decisions are data: a cost-model
# change shows up as a hash diff. Determinism: stats are exact
# integers; estimates/costs are fixed-order scalar IEEE on them; argmin
# ties break to the lexicographically first split. Scale: one stats
# pass (persisted in Spark / MATERIALIZED in DuckDB — the 10 subset
# rows re-reference it), then pure scalar algebra. Non-vacuous at
# sf0.01 (measured): cardinalities span 25..240k and the chosen splits
# differ across subsets.
_DP_STATS_SQL = """
      SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem) AS n_l,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS n_o,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM customer) AS n_c,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM nation) AS n_n,
             (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) FROM lineitem) AS d_l_ok,
             (SELECT CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders) AS d_o_ok,
             (SELECT CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) FROM orders) AS d_o_ck,
             (SELECT CAST(COUNT(DISTINCT c_custkey) AS DOUBLE) FROM customer) AS d_c_ck,
             (SELECT CAST(COUNT(DISTINCT c_nationkey) AS DOUBLE) FROM customer) AS d_c_nk,
             (SELECT CAST(COUNT(DISTINCT n_nationkey) AS DOUBLE) FROM nation) AS d_n_nk
"""

# estimates as python-side SQL fragments over the stats row s (fixed
# operation order — identical text in both engines)
_EST = {
    "LO": "s.n_l * s.n_o / greatest(s.d_l_ok, s.d_o_ok)",
    "OC": "s.n_o * s.n_c / greatest(s.d_o_ck, s.d_c_ck)",
    "CN": "s.n_c * s.n_n / greatest(s.d_c_nk, s.d_n_nk)",
}
_EST["LOC"] = f"({_EST['LO']}) * s.n_c / greatest(s.d_o_ck, s.d_c_ck)"
_EST["OCN"] = f"({_EST['OC']}) * s.n_n / greatest(s.d_c_nk, s.d_n_nk)"
_EST["LOCN"] = f"({_EST['LOC']}) * s.n_n / greatest(s.d_c_nk, s.d_n_nk)"


def _dp_plan_sql(stats_src: str) -> str:
    e = _EST
    # best_cost(S) = min over connected splits of cost(S1)+cost(S2)+card(S)
    # (singles cost 0). For the chain, LOC splits {L|OC, LO|C}; OCN
    # splits {O|CN, OC|N}; LOCN splits {L|OCN, LO|CN, LOC|N}.
    cost_loc_a = f"({e['OC']}) + ({e['LOC']})"      # L ⋈ (OC)
    cost_loc_b = f"({e['LO']}) + ({e['LOC']})"      # (LO) ⋈ C
    cost_ocn_a = f"({e['CN']}) + ({e['OCN']})"      # O ⋈ (CN)
    cost_ocn_b = f"({e['OC']}) + ({e['OCN']})"      # (OC) ⋈ N
    best_loc = f"least({cost_loc_a}, {cost_loc_b})"
    best_ocn = f"least({cost_ocn_a}, {cost_ocn_b})"
    cost_full_a = f"({best_ocn}) + ({e['LOCN']})"                 # L | OCN
    cost_full_b = f"({e['LO']}) + ({e['CN']}) + ({e['LOCN']})"    # LO | CN
    cost_full_c = f"({best_loc}) + ({e['LOCN']})"                 # LOC | N

    def row(name, card, cost, split):
        return (
            f"SELECT '{name}' AS subset, ROUND({card}, 2) AS est_rows, "
            f"ROUND({cost}, 2) AS best_cost, {split} AS best_split "
            f"FROM {stats_src} s"
        )

    rows = [
        row("L", "s.n_l", "0.0e0", "'scan'"),
        row("O", "s.n_o", "0.0e0", "'scan'"),
        row("C", "s.n_c", "0.0e0", "'scan'"),
        row("N", "s.n_n", "0.0e0", "'scan'"),
        row("LO", e["LO"], e["LO"], "'L*O'"),
        row("OC", e["OC"], e["OC"], "'O*C'"),
        row("CN", e["CN"], e["CN"], "'C*N'"),
        row("LOC", e["LOC"], best_loc,
            f"CASE WHEN ({cost_loc_a}) <= ({cost_loc_b}) THEN 'L*(OC)' ELSE '(LO)*C' END"),
        row("OCN", e["OCN"], best_ocn,
            f"CASE WHEN ({cost_ocn_a}) <= ({cost_ocn_b}) THEN 'O*(CN)' ELSE '(OC)*N' END"),
        row("LOCN", e["LOCN"],
            f"least({cost_full_a}, least({cost_full_b}, {cost_full_c}))",
            f"CASE WHEN ({cost_full_a}) <= ({cost_full_b}) "
            f"AND ({cost_full_a}) <= ({cost_full_c}) THEN 'L*(OCN)' "
            f"WHEN ({cost_full_b}) <= ({cost_full_c}) THEN '(LO)*(CN)' "
            f"ELSE '(LOC)*N' END"),
    ]
    return " UNION ALL ".join(rows) + " ORDER BY subset"


@register(
    "join_order_dp_plan",
    oracle="WITH stats AS MATERIALIZED (" + _DP_STATS_SQL + ") " + _dp_plan_sql("stats"),
)
def join_order_dp_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "orders", "customer", "nation")

    def build():
        stats = spark.sql("SELECT * FROM (" + _DP_STATS_SQL + ")").persist()
        stats.count()  # the 4-table census runs once; 10 subset rows re-read it
        return stats

    return spark.sql(_dp_plan_sql(stage(spark, sf_dir, "dp_stats", build, "persist")))


# --------------------------------------------------------------------------
# events_dispersion_fano — index-of-dispersion (Fano factor) test per
# event type: a Poisson arrival process has variance == mean of its
# per-hour counts (Fano = 1); overdispersion (bursts) or
# underdispersion (rate limiting) shows as Fano off 1, scored with the
# chi-square-based dispersion z = sqrt(2*chi2) - sqrt(2*dof - 1). The
# arrival-process diagnostic behind capacity planning and bot
# heuristics (the PROCESS-level companion to events_hourly_anomaly's
# per-hour z-scores). Determinism: hourly counts are exact integers;
# mean/variance come from exact DECIMAL sufficient statistics; the z is
# scalar sqrt math. Scale: events collapses to the (type, hour) census
# in one pass; everything after is a 5-row rollup. Non-vacuous at
# sf0.01 (measured): the feed is significantly UNDERdispersed — Fano
# 0.74-0.87 with dispersion z -2.5..-5.2 per type (the generator
# spreads events more regularly than Poisson), real structure the test
# correctly flags.
_FANO_SQL = """
    WITH hourly AS (
      SELECT event_type, {hour_ts} AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, {hour_ts}
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(c AS DECIMAL(28, 0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c * c AS DECIMAL(38, 0))) AS DOUBLE) AS s2
      FROM hourly GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(s1 AS BIGINT) AS n_events,
           ROUND(s1 / n, 6) AS mean_per_hour,
           ROUND((s2 - s1 * s1 / n) / (n - 1.0e0), 6) AS var_per_hour,
           ROUND(((s2 - s1 * s1 / n) / (n - 1.0e0)) / (s1 / n), 6) AS fano,
           ROUND(sqrt(2.0e0 * (n - 1.0e0)
                      * ((s2 - s1 * s1 / n) / (n - 1.0e0)) / (s1 / n))
                 - sqrt(2.0e0 * (n - 1.0e0) - 1.0e0), 6) AS dispersion_z
    FROM stats
    ORDER BY event_type
"""


@register(
    "events_dispersion_fano",
    oracle=_FANO_SQL.format(hour_ts="date_trunc('hour', ts)"),
)
def events_dispersion_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_FANO_SQL.format(hour_ts="date_trunc('hour', ts)"))


# --------------------------------------------------------------------------
# events_diff_in_diff — difference-in-differences estimator (the
# quasi-experimental workhorse the A/B family here lacks: ab_test/
# cuped/sprt all assume randomized concurrent arms; DiD handles a
# treatment that switches ON at a date): md5 arms as treated/control,
# the feed midpoint (day 15) as the policy date, Y = mean per-user-day
# purchase spend per (arm, period) cell; the DiD effect is
# (T1 - T0) - (C1 - C0) with its standard error from the four cells'
# exact moment variances. On this randomized feed the true effect is 0,
# so the estimate is a null calibration (measured: effect within ~1 SE
# of 0) — and any real policy shift would surface as |z| >> 0.
# Determinism: cell sums are exact DECIMAL cents; variances from exact
# sufficient statistics; the estimator is fixed-order scalar IEEE.
# Scale: one keyed census (user, arm, period) with map-side partials,
# then a 4-cell rollup. Wide single-row output plus the 4 cells
# inlined as columns.
_DID_SQL = """
    WITH bounds AS (SELECT MIN({day}) AS d0 FROM events e),
    per_user AS (
      SELECT ({arm}) AS arm,
             CASE WHEN {day} < b.d0 + 15 THEN 0 ELSE 1 END AS period,
             e.user_id,
             CAST(SUM(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(floor(e.value * 100.0e0 + 0.5e0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cents
      FROM events e CROSS JOIN bounds b
      GROUP BY ({arm}), CASE WHEN {day} < b.d0 + 15 THEN 0 ELSE 1 END,
               e.user_id
    ),
    cells AS (
      SELECT arm, period,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(cents AS DECIMAL(28, 0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(cents * cents AS DECIMAL(38, 0))) AS DOUBLE) AS s2
      FROM per_user GROUP BY arm, period
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 1 AND period = 0 THEN s1 / n END) AS t0,
        MAX(CASE WHEN arm = 1 AND period = 1 THEN s1 / n END) AS t1,
        MAX(CASE WHEN arm = 0 AND period = 0 THEN s1 / n END) AS c0,
        MAX(CASE WHEN arm = 0 AND period = 1 THEN s1 / n END) AS c1,
        MAX(CASE WHEN arm = 1 AND period = 0
                 THEN (s2 / n - (s1 / n) * (s1 / n)) / n END) AS vt0,
        MAX(CASE WHEN arm = 1 AND period = 1
                 THEN (s2 / n - (s1 / n) * (s1 / n)) / n END) AS vt1,
        MAX(CASE WHEN arm = 0 AND period = 0
                 THEN (s2 / n - (s1 / n) * (s1 / n)) / n END) AS vc0,
        MAX(CASE WHEN arm = 0 AND period = 1
                 THEN (s2 / n - (s1 / n) * (s1 / n)) / n END) AS vc1
      FROM cells
    )
    SELECT ROUND(t0 / 100.0e0, 6) AS treated_pre,
           ROUND(t1 / 100.0e0, 6) AS treated_post,
           ROUND(c0 / 100.0e0, 6) AS control_pre,
           ROUND(c1 / 100.0e0, 6) AS control_post,
           ROUND(((t1 - t0) - (c1 - c0)) / 100.0e0, 6) AS did_effect,
           ROUND(sqrt(vt1 + vt0 + vc1 + vc0) / 100.0e0, 6) AS std_err,
           ROUND(((t1 - t0) - (c1 - c0))
                 / sqrt(vt1 + vt0 + vc1 + vc0), 6) AS z_score
    FROM wide
"""


def _did_sql(engine: str) -> str:
    if engine == "spark":
        return _DID_SQL.format(
            day="CAST(unix_timestamp(e.ts) AS BIGINT) DIV 86400",
            arm="CAST(conv(substring(md5(CAST(e.user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2",
        )
    return _DID_SQL.format(
        day="CAST(floor(epoch(e.ts)) AS BIGINT) // 86400",
        arm="CAST('0x' || substring(md5(CAST(e.user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2",
    )


@register("events_diff_in_diff", oracle=_did_sql("duck"))
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_did_sql("spark"))


# --------------------------------------------------------------------------
# lineitem_twoway_anova — two-way ANOVA with interaction (returnflag x
# linestatus on quantity): the factorial companion to
# events_anova_value's one-way test. Sums of squares from exact
# DECIMAL cell moments (SS_A, SS_B, SS_AB by the standard balanced-form
# identities over cell/marginal/grand means, SS_err as the within-cell
# residual), plus the mean-square ratios. Determinism: every moment is
# an exact integer sum; means are exact ratios; the SS algebra is
# fixed-order scalar IEEE over the 6-cell frame. Scale: one grouped
# pass to the (flag, status) cells with map-side partials; marginal and
# grand terms are windows over 6 rows. Non-vacuous at sf0.01
# (measured): all SS components are distinct nonzero values and the F
# ratios sit at null-ish levels on this independent book — while a
# real factor effect would move them.
_ANOVA2_SQL = """
    WITH cells AS (
      SELECT l_returnflag AS fa, l_linestatus AS fb,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(q AS DECIMAL(28, 0))) AS DECIMAL(28, 0)) AS s1,
             CAST(SUM(CAST(q * q AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS s2
      FROM (SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(l_quantity) AS BIGINT) AS q
            FROM lineitem) z
      GROUP BY l_returnflag, l_linestatus
    ),
    -- moments stay exact DECIMAL through the windows; every per-row
    -- double addend is ROUND(...,4)-quantized before the exact DECIMAL
    -- cross-cell sum (a bare SUM of 6 doubles is order-dependent — it
    -- WARNed on ss_total's last digit before this)
    m AS (
      SELECT fa, fb,
             CAST(n AS DOUBLE) AS n,
             CAST(s1 AS DOUBLE) AS s1,
             CAST(SUM(n) OVER () AS DOUBLE) AS nt,
             CAST(SUM(s1) OVER () AS DOUBLE) AS st,
             CAST(SUM(n) OVER (PARTITION BY fa) AS DOUBLE) AS na,
             CAST(SUM(s1) OVER (PARTITION BY fa) AS DOUBLE) AS sa,
             CAST(SUM(n) OVER (PARTITION BY fb) AS DOUBLE) AS nb,
             CAST(SUM(s1) OVER (PARTITION BY fb) AS DOUBLE) AS sb,
             CAST(SUM(s2) OVER () AS DOUBLE) AS stot2
      FROM cells
    ),
    ss AS (
      SELECT
        MAX(st * st / nt) AS corr,
        CAST(SUM(CAST(ROUND(sa * sa / na / 2.0e0, 4) AS DECIMAL(28, 4)))
             AS DOUBLE) AS ssa_raw,
        CAST(SUM(CAST(ROUND(sb * sb / nb / 3.0e0, 4) AS DECIMAL(28, 4)))
             AS DOUBLE) AS ssb_raw,
        CAST(SUM(CAST(ROUND(s1 * s1 / n, 4) AS DECIMAL(28, 4)))
             AS DOUBLE) AS sscell_raw,
        MAX(stot2) AS stot2,
        MAX(nt) AS nt
      FROM m
    )
    -- ss outputs quantize via floor(x*1e4 + 0.5)/1e4, NOT ROUND: the
    -- inputs are bit-identical doubles in both engines, but corr =
    -- st^2/nt lands ss_total exactly on a 4dp half boundary at sf0.01
    -- (…69625) where Spark's and DuckDB's ROUND half-rules disagree —
    -- floor arithmetic on identical doubles cannot
    SELECT CAST(nt AS BIGINT) AS n_rows,
           floor((ssa_raw - corr) * 10000.0e0 + 0.5e0) / 10000.0e0
             AS ss_returnflag,
           floor((ssb_raw - corr) * 10000.0e0 + 0.5e0) / 10000.0e0
             AS ss_linestatus,
           floor((sscell_raw - ssa_raw - ssb_raw + corr) * 10000.0e0 + 0.5e0)
             / 10000.0e0 AS ss_interaction,
           floor((stot2 - sscell_raw) * 10000.0e0 + 0.5e0) / 10000.0e0
             AS ss_error,
           floor((stot2 - corr) * 10000.0e0 + 0.5e0) / 10000.0e0 AS ss_total,
           ROUND((ssa_raw - corr) / 2.0e0
                 / ((stot2 - sscell_raw) / (nt - 6.0e0)), 6) AS f_returnflag,
           ROUND((ssb_raw - corr) / 1.0e0
                 / ((stot2 - sscell_raw) / (nt - 6.0e0)), 6) AS f_linestatus,
           ROUND((sscell_raw - ssa_raw - ssb_raw + corr) / 2.0e0
                 / ((stot2 - sscell_raw) / (nt - 6.0e0)), 6) AS f_interaction
    FROM ss
"""


@register("lineitem_twoway_anova", oracle=_ANOVA2_SQL)
def lineitem_twoway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(_ANOVA2_SQL)


# --------------------------------------------------------------------------
# events_variance_decomposition — variance-explained decomposition of
# the hourly count series over the complete 24x30 (hour-of-day x day)
# grid: SS_total = SS_hod + SS_day + SS_residual (one observation per
# cell, so the interaction IS the residual) — quantifying how much of
# the traffic variance the seasonal monitors' baselines can actually
# explain. Determinism: all sums of squares derive from exact integer
# hourly counts via exact DECIMAL marginal windows; the per-group
# ratio addends are ROUND-quantized before exact cross-group sums and
# the outputs use the floor(x*1e4+0.5) quantizer (identical-double
# safe — see lineitem_twoway_anova's boundary note). Scale: events
# collapses to the 720-row grid in one pass; marginals are windows
# over it. Non-vacuous at sf0.01 (measured): shares are distinct
# nonzero values (both factors explain only a few percent — the feed
# is near-stationary, which the decomposition quantifies rather than
# assumes).
_VARDECOMP_SQL = """
    WITH grid AS (
      SELECT CAST({hod} AS BIGINT) AS hod, CAST({day} AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events e GROUP BY {hod}, {day}
    ),
    m AS (
      SELECT hod, d, CAST(c AS DOUBLE) AS c,
             CAST(COUNT(*) OVER () AS DOUBLE) AS nt,
             CAST(SUM(c) OVER () AS DOUBLE) AS st,
             CAST(SUM(CAST(c * c AS DECIMAL(38, 0))) OVER () AS DOUBLE) AS st2,
             CAST(SUM(c) OVER (PARTITION BY hod) AS DOUBLE) AS sh,
             CAST(COUNT(*) OVER (PARTITION BY hod) AS DOUBLE) AS nh,
             CAST(SUM(c) OVER (PARTITION BY d) AS DOUBLE) AS sd,
             CAST(COUNT(*) OVER (PARTITION BY d) AS DOUBLE) AS nd
      FROM grid
    ),
    ss AS (
      SELECT MAX(st * st / nt) AS corr,
             MAX(st2) AS st2,
             CAST(SUM(CAST(ROUND(sh * sh / nh / nh, 6) AS DECIMAL(28, 6)))
                  AS DOUBLE) AS ssh_raw,
             CAST(SUM(CAST(ROUND(sd * sd / nd / nd, 6) AS DECIMAL(28, 6)))
                  AS DOUBLE) AS ssd_raw,
             MAX(nt) AS nt
      FROM m
    )
    SELECT CAST(nt AS BIGINT) AS n_hours,
           floor((st2 - corr) * 10000.0e0 + 0.5e0) / 10000.0e0 AS ss_total,
           floor((ssh_raw - corr) * 10000.0e0 + 0.5e0) / 10000.0e0 AS ss_hod,
           floor((ssd_raw - corr) * 10000.0e0 + 0.5e0) / 10000.0e0 AS ss_day,
           floor((st2 - ssh_raw - ssd_raw + corr) * 10000.0e0 + 0.5e0)
             / 10000.0e0 AS ss_residual,
           ROUND((ssh_raw - corr) / (st2 - corr), 6) AS share_hod,
           ROUND((ssd_raw - corr) / (st2 - corr), 6) AS share_day,
           ROUND((st2 - ssh_raw - ssd_raw + corr) / (st2 - corr), 6)
             AS share_residual
    FROM ss
"""


@register(
    "events_variance_decomposition",
    oracle=_VARDECOMP_SQL.format(
        hod="EXTRACT(hour FROM e.ts)",
        day="CAST(floor(epoch(e.ts)) AS BIGINT) // 86400",
    ),
)
def events_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _VARDECOMP_SQL.format(
            hod="hour(e.ts)",
            day="CAST(unix_timestamp(e.ts) AS BIGINT) DIV 86400",
        )
    )


# --------------------------------------------------------------------------
# orders_kendall_tau — Kendall's tau-b rank correlation between time
# (month index) and monthly revenue: the exact concordant/discordant
# pair census over the ~80-row monthly frame (the rank-correlation
# companion to orders_theilsen_trend's robust slope — tau is the
# TEST, Theil-Sen the ESTIMATE, and both ride the same bounded pair
# join). Ties in revenue get the tau-b denominator correction; month
# indices are unique so only one tie term exists. Determinism:
# revenues are exact DECIMAL cents; concordance is integer comparison;
# tau is one sqrt over exact integer products. Scale: the O(months²)
# pair join is calendar-bounded — constant work at any row count.
_KENDALL_SQL = """
    WITH monthly AS (
      SELECT ({ym}) AS ym,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(28, 0)))
                  AS DECIMAL(28, 0)) AS cents
      FROM orders GROUP BY ({ym})
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END)
                  AS DOUBLE) AS conc,
             CAST(SUM(CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END)
                  AS DOUBLE) AS disc,
             CAST(SUM(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END)
                  AS DOUBLE) AS ties_y,
             CAST(COUNT(*) AS DOUBLE) AS n_pairs
      FROM monthly a JOIN monthly b ON b.ym > a.ym
    )
    SELECT CAST(n_pairs AS BIGINT) AS n_month_pairs,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(ties_y AS BIGINT) AS revenue_ties,
           ROUND((conc - disc)
                 / sqrt(greatest(n_pairs * (n_pairs - ties_y), 1e-9)), 6)
             AS kendall_tau_b
    FROM pairs
"""


@register(
    "orders_kendall_tau",
    oracle=_KENDALL_SQL.format(
        ym="EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate)"
    ),
)
def orders_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _KENDALL_SQL.format(ym="year(o_orderdate) * 12 + month(o_orderdate)")
    )


# --------------------------------------------------------------------------
# events_runs_test — Wald-Wolfowitz runs test for serial randomness of
# the daily event-count series: days are signed above/below the median
# count (exact order-statistic median, low tie-break; median-equal days
# are dropped — the standard convention), runs are sign changes + 1,
# and the z-score compares observed runs to the exact null mean/
# variance for (n_plus, n_minus). Too FEW runs = trending/clustered
# days, too many = oscillation. Determinism: counts/medians/runs are
# exact integers; z is scalar sqrt math. Scale: everything after the
# ~30-row daily census is window math over days. Non-vacuous at sf0.01
# (measured): a real runs count with a noise-level z — and any real
# trend would push z strongly negative.
_RUNS_SQL = """
    WITH daily AS (
      SELECT ({day}) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY ({day})
    ),
    med AS (
      SELECT d, c,
             CAST(ROW_NUMBER() OVER (ORDER BY c, d) AS BIGINT) AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    medval AS (
      SELECT c AS m FROM med WHERE rnk = (n + 1) / 2
    ),
    signed AS (
      SELECT d.d, CASE WHEN d.c > mv.m THEN 1 ELSE 0 END AS sgn
      FROM daily d CROSS JOIN medval mv
      WHERE d.c <> mv.m
    ),
    runs AS (
      SELECT sgn,
             CASE WHEN LAG(sgn) OVER (ORDER BY d) IS NULL
                   OR LAG(sgn) OVER (ORDER BY d) <> sgn
                  THEN 1 ELSE 0 END AS new_run
      FROM signed
    ),
    agg AS (
      SELECT CAST(SUM(new_run) AS DOUBLE) AS r,
             CAST(SUM(sgn) AS DOUBLE) AS n1,
             CAST(SUM(1 - sgn) AS DOUBLE) AS n2
      FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           ROUND(2.0e0 * n1 * n2 / (n1 + n2) + 1.0e0, 6) AS expected_runs,
           ROUND((r - (2.0e0 * n1 * n2 / (n1 + n2) + 1.0e0))
                 / sqrt(2.0e0 * n1 * n2 * (2.0e0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0e0))), 6)
             AS z_score
    FROM agg
"""


@register(
    "events_runs_test",
    oracle=_RUNS_SQL.format(day="CAST(floor(epoch(ts)) AS BIGINT) // 86400"),
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _RUNS_SQL.format(day="CAST(unix_timestamp(ts) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# orders_expected_shortfall — tail-risk metrics over daily revenue
# (the risk-management view the robust-stats family lacks): VaR_5% is
# the k-th worst day's revenue (k = ceil(0.05 * n_days), an exact
# ORDER STATISTIC — never an interpolated percentile, which drifts
# cross-engine), and expected shortfall (CVaR) is the exact mean of
# those k worst days. Determinism: daily revenues are exact DECIMAL
# cents; the rank is a ROW_NUMBER tie-broken on day; the tail mean is
# an exact-int ratio. Scale: the fact scan collapses to the ~80-day
# census; ranking runs over days. Non-vacuous at sf0.01 (measured):
# VaR/ES sit well below the mean with a real tail gap.
_ES_SQL = """
    WITH daily AS (
      SELECT ({day}) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(28, 0)))
                  AS DECIMAL(28, 0)) AS cents
      FROM orders GROUP BY ({day})
    ),
    ranked AS (
      SELECT d, cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, d) AS BIGINT) AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    k AS (
      -- floor() the ceil-division explicitly: bare '/' yields DOUBLE
      -- in both engines and CAST(double AS BIGINT) truncates in Spark
      -- but rounds in DuckDB (the known gotcha)
      SELECT n, CAST(floor((n * 5 + 99) / 100.0e0) AS BIGINT) AS kk FROM ranked
      GROUP BY n
    )
    -- 2dp outputs use floor(x*100+0.5)/100, not ROUND: these are
    -- cents/count rationals whose decimal expansion can land exactly on
    -- a half boundary (hypothesis found mean 324.085 -> .09 vs .08,
    -- Spark HALF_UP vs DuckDB round, r7)
    SELECT CAST(MAX(r.n) AS BIGINT) AS n_days,
           CAST(MAX(k.kk) AS BIGINT) AS k_tail_days,
           floor(CAST(SUM(CAST(r.cents AS DECIMAL(28, 0))) AS DOUBLE)
                 / MAX(r.n) + 0.5e0) / 100.0e0 AS mean_daily_revenue,
           floor(CAST(MAX(CASE WHEN r.rnk = k.kk THEN r.cents END) AS DOUBLE)
                 + 0.5e0) / 100.0e0 AS var_5pct,
           floor(CAST(SUM(CASE WHEN r.rnk <= k.kk
                               THEN CAST(r.cents AS DECIMAL(28, 0))
                               ELSE CAST(0 AS DECIMAL(28, 0)) END) AS DOUBLE)
                 / MAX(k.kk) + 0.5e0) / 100.0e0 AS expected_shortfall_5pct
    FROM ranked r CROSS JOIN k
"""


@register(
    "orders_expected_shortfall",
    oracle=_ES_SQL.format(day="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"),
)
def orders_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _ES_SQL.format(day="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# events_seasonal_adjusted_anomaly — seasonally-ADJUSTED burst/outage
# detection: each calendar hour is z-scored against its own
# hour-of-day's mean/std (exact integer sufficient statistics per hod),
# not the global distribution — an 18:00 spike is judged against other
# 18:00s. This is the operational completion of the seasonal family:
# events_hourly_anomaly (global z) flags busy dayparts as "anomalies";
# the hod-conditional z only flags deviations FROM the pattern.
# Determinism: counts exact; per-hod moments exact DECIMAL; z is scalar
# IEEE; top-20 by |z| with (hour, z) tie-breaks. Scale: the hourly
# census bounds everything; moments are 24-row windows over it.
# Non-vacuous at sf0.01 (measured): z values vary and the top hours
# differ from the global detector's.
_SEAS_ADJ_SQL = """
    WITH hourly AS (
      SELECT {hour_ts} AS h, CAST({hod} AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events e GROUP BY {hour_ts}, {hod}
    ),
    m AS (
      SELECT h, hod, c,
             CAST(COUNT(*) OVER (PARTITION BY hod) AS DOUBLE) AS n,
             CAST(SUM(c) OVER (PARTITION BY hod) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c * c AS DECIMAL(38, 0))) OVER (PARTITION BY hod)
                  AS DOUBLE) AS s2
      FROM hourly
    )
    SELECT {hfmt} AS hour_ts, hod, c AS n_events,
           ROUND(s1 / n, 6) AS hod_mean,
           ROUND((CAST(c AS DOUBLE) - s1 / n)
                 / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.000001e0)), 4)
             AS z_seasonal
    FROM m
    ORDER BY abs(ROUND((CAST(c AS DOUBLE) - s1 / n)
                 / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.000001e0)), 4))
             DESC, h
    LIMIT 20
"""


@register(
    "events_seasonal_adjusted_anomaly",
    oracle=_SEAS_ADJ_SQL.format(
        hour_ts="date_trunc('hour', e.ts)",
        hod="EXTRACT(hour FROM e.ts)",
        hfmt="strftime(h, '%Y-%m-%d %H:%M:%S')",
    ),
)
def events_seasonal_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _SEAS_ADJ_SQL.format(
            hour_ts="date_trunc('hour', e.ts)",
            hod="hour(e.ts)",
            hfmt="date_format(h, 'yyyy-MM-dd HH:mm:ss')",
        )
    )


# --------------------------------------------------------------------------
# orders_pacf_durbin — partial autocorrelation of the daily revenue
# series to lag 5 via the Durbin-Levinson recursion (the AR-order
# identification tool: ACF says "how much memory", PACF says "how many
# AR terms") — the recursion unrolls as chained CTE levels, each
# consuming the previous once, all scalar IEEE on the exact quantized
# ACF values (the events_hourly_acf determinism pattern: centered
# products ROUND(...,9) then DECIMAL-summed; missing days are
# zero-filled via the dense day spine). Wide single-row output (a tall
# spelling would re-expand the daily census per lag row). Scale: the
# fact scan collapses to the ~2400-day census; the lag joins and the
# recursion are census/scalar work. Non-vacuous at sf0.01 (measured):
# acf/pacf values are distinct small negatives — the series is
# near-white, which PACF correctly reports as "no AR structure".
_PACF_LEVELS = """
    lv1 AS (SELECT *, r1 AS p11 FROM acfw),
    lv2 AS (
      SELECT *, (r2 - p11 * r1) / (1.0e0 - p11 * r1) AS p22 FROM lv1
    ),
    lv2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM lv2),
    lv3 AS (
      SELECT *, (r3 - (p21 * r2 + p22 * r1))
                / (1.0e0 - (p21 * r1 + p22 * r2)) AS p33
      FROM lv2b
    ),
    lv3b AS (
      SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM lv3
    ),
    lv4 AS (
      SELECT *, (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
                / (1.0e0 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44
      FROM lv3b
    ),
    lv4b AS (
      SELECT *, p31 - p44 * p33 AS p41, p32 - p44 * p32 AS p42,
                p33 - p44 * p31 AS p43
      FROM lv4
    ),
    lv5 AS (
      SELECT *, (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1))
                / (1.0e0 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4)) AS p55
      FROM lv4b
    )
"""

_PACF_SQL = """
    WITH daily AS (
      SELECT ({day}) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(28, 0)))
                  AS BIGINT) AS cents
      FROM orders GROUP BY ({day})
    ),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
    spine AS (SELECT {dspine} FROM bounds),
    series AS (
      SELECT s.d, CAST(COALESCE(dd.cents, 0) AS DOUBLE) / 100.0e0 AS x
      FROM spine s LEFT JOIN daily dd ON dd.d = s.d
    ),
    mstat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(28, 2))) AS DOUBLE)
               / COUNT(*) AS m
      FROM series
    ),
    denom AS (
      SELECT CAST(SUM(CAST(ROUND((s.x - t.m) * (s.x - t.m), 4)
                           AS DECIMAL(38, 4))) AS DOUBLE) AS ss
      FROM series s CROSS JOIN mstat t
    ),
    lags AS (SELECT CAST(k AS BIGINT) AS lag FROM ({kspine}) t),
    num AS (
      SELECT l.lag,
             CAST(SUM(CAST(ROUND((a.x - t.m) * (b.x - t.m), 4)
                           AS DECIMAL(38, 4))) AS DOUBLE) AS sp
      FROM lags l
      CROSS JOIN mstat t
      CROSS JOIN series a
      JOIN series b ON b.d = a.d + l.lag
      GROUP BY l.lag
    ),
    acfw AS (
      SELECT
        MAX(CASE WHEN n.lag = 1 THEN n.sp / d.ss END) AS r1,
        MAX(CASE WHEN n.lag = 2 THEN n.sp / d.ss END) AS r2,
        MAX(CASE WHEN n.lag = 3 THEN n.sp / d.ss END) AS r3,
        MAX(CASE WHEN n.lag = 4 THEN n.sp / d.ss END) AS r4,
        MAX(CASE WHEN n.lag = 5 THEN n.sp / d.ss END) AS r5
      FROM num n CROSS JOIN denom d
    ),
""" + _PACF_LEVELS + """
    SELECT ROUND(r1, 6) AS acf_1, ROUND(r2, 6) AS acf_2,
           ROUND(r3, 6) AS acf_3, ROUND(r4, 6) AS acf_4,
           ROUND(r5, 6) AS acf_5,
           ROUND(p11, 6) AS pacf_1, ROUND(p22, 6) AS pacf_2,
           ROUND(p33, 6) AS pacf_3, ROUND(p44, 6) AS pacf_4,
           ROUND(p55, 6) AS pacf_5
    FROM lv5
"""


@register(
    "orders_pacf_durbin",
    oracle=_PACF_SQL.format(
        day="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400",
        dspine="unnest(generate_series(lo, hi)) AS d",
        kspine="SELECT unnest(generate_series(1, 5)) AS k",
    ),
)
def orders_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _PACF_SQL.format(
            day="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400",
            dspine="explode(sequence(lo, hi)) AS d",
            kspine="SELECT explode(sequence(1, 5)) AS k",
        )
    )


# --------------------------------------------------------------------------
# events_levene_test — Levene's test for variance EQUALITY between the
# md5 arms' purchase values (the precondition check the mean-based
# ab_test silently assumes; Mann-Whitney checks location, KS checks
# shape — this checks spread): W is the one-way ANOVA F computed on
# absolute deviations from each group's mean. Group means are exact
# cent ratios; per-row absolute deviations are quantized ROUND(...,4)
# and DECIMAL-summed (order-independent); W is fixed-order scalar on
# the 2-group moment frame. Scale: two keyed passes (group means, then
# deviation moments) with map-side partials — constant-size state.
# Non-vacuous at sf0.01 (measured): W is a nonzero noise-level value
# on the randomized arms; a real variance shift would move it far
# from 1.
_LEVENE_SQL = """
    WITH vals AS (
      SELECT ({arm}) AS arm,
             CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    gmean AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(c AS DECIMAL(28, 0))) AS DOUBLE) / COUNT(*) AS m
      FROM vals GROUP BY arm
    ),
    dev AS (
      SELECT v.arm,
             ROUND(abs(CAST(v.c AS DOUBLE) - g.m) / 100.0e0, 4) AS z
      FROM vals v JOIN gmean g ON g.arm = v.arm
    ),
    zm AS (
      SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(z AS DECIMAL(28, 4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(ROUND(z * z, 4) AS DECIMAL(28, 4))) AS DOUBLE) AS s2
      FROM dev GROUP BY arm
    ),
    wide AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS nt,
             CAST(SUM(CAST(ROUND(s1, 4) AS DECIMAL(28, 4))) AS DOUBLE) AS st,
             CAST(SUM(CAST(ROUND(s1 * s1 / n, 4) AS DECIMAL(28, 4)))
                  AS DOUBLE) AS ssb_raw,
             CAST(SUM(CAST(ROUND(s2, 4) AS DECIMAL(28, 4))) AS DOUBLE) AS st2,
             MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN s1 / n END) AS zbar0,
             MAX(CASE WHEN arm = 1 THEN s1 / n END) AS zbar1
      FROM zm
    )
    SELECT CAST(n0 AS BIGINT) AS n_arm0, CAST(n1 AS BIGINT) AS n_arm1,
           ROUND(zbar0, 6) AS mean_absdev_arm0,
           ROUND(zbar1, 6) AS mean_absdev_arm1,
           ROUND(((ssb_raw - st * st / nt) / 1.0e0)
                 / ((st2 - ssb_raw) / (nt - 2.0e0)), 6) AS levene_w
    FROM wide
"""


@register(
    "events_levene_test",
    oracle=_LEVENE_SQL.format(
        arm="CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) % 2"
    ),
)
def events_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(
        _LEVENE_SQL.format(
            arm="CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2"
        )
    )


# --------------------------------------------------------------------------
# orders_kruskal_wallis — Kruskal-Wallis H test of daily revenue across
# the seven weekdays (the k-group extension of events_mannwhitney_u's
# rank machinery, closing the nonparametric family: MWU for 2 groups,
# KW for k): daily revenues rank via the value census with DOUBLED
# midranks (2*midrank = lo+hi is always an integer, so per-group rank
# sums stay exact), and H carries the exact tie correction. Parametric
# weekday ANOVA assumes normal daily revenue; KW does not.
# Determinism: revenues exact cents; rank sums exact integers; H is
# fixed-order scalar IEEE on them. Scale: everything after the daily
# census (calendar-bounded) is census-window math. Non-vacuous at
# sf0.01 (measured): per-weekday mean ranks differ and H is a real
# noise-level value on this seasonless book.
_KW_SQL = """
    WITH daily AS (
      SELECT ({day}) AS d,
             CAST(({day}) % 7 AS BIGINT) AS wd,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(28, 0)))
                  AS BIGINT) AS cents
      FROM orders GROUP BY ({day})
    ),
    census AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS t
      FROM daily GROUP BY cents
    ),
    ranked AS (
      SELECT cents, t,
             CAST(SUM(t) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM census
    ),
    scored AS (
      SELECT d.wd, d.cents,
             r.cum * 2 - r.t + 1 AS two_rank
      FROM daily d JOIN ranked r ON r.cents = d.cents
    ),
    groups AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(two_rank) AS BIGINT) AS two_rsum
      FROM scored GROUP BY wd
    ),
    ties AS (
      SELECT CAST(SUM(CAST(t AS DECIMAL(28, 0)) * t * t - t) AS DOUBLE)
               AS tie_cubes,
             CAST(SUM(t) AS DOUBLE) AS nt
      FROM census
    ),
    h AS (
      SELECT CAST(SUM(CAST(ROUND(CAST(two_rsum AS DOUBLE) * two_rsum
                                 / (4.0e0 * n), 4) AS DECIMAL(28, 4)))
                  AS DOUBLE) AS sum_r2n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM groups
    )
    SELECT CAST(t.nt AS BIGINT) AS n_days, h.k AS n_groups,
           ROUND((12.0e0 * h.sum_r2n / (t.nt * (t.nt + 1.0e0))
                  - 3.0e0 * (t.nt + 1.0e0))
                 / (1.0e0 - t.tie_cubes
                    / (t.nt * t.nt * t.nt - t.nt)), 6) AS kw_h,
           CAST(h.k - 1 AS BIGINT) AS dof
    FROM h CROSS JOIN ties t
"""


@register(
    "orders_kruskal_wallis",
    oracle=_KW_SQL.format(day="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"),
)
def orders_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        _KW_SQL.format(day="CAST(unix_timestamp(o_orderdate) AS BIGINT) DIV 86400")
    )


# --------------------------------------------------------------------------
# events_entropy_rate — the entropy RATE of the corpus behavior chain:
# H = -sum_i pi_i sum_j p_ij ln p_ij over the event-type transition
# matrix, with pi the stationary distribution from the same quantized
# 16-step power iteration events_markov_stationary uses. The single
# number that says how compressible/predictable the event stream is AS
# A PROCESS (vs events_user_predictability's per-user entropy and the
# stationary query's long-run MIX): entropy rate near ln(k) means the
# next event is unpredictable even knowing the current one, i.e.
# sequence models add nothing over marginal frequencies. Per-state rows
# carry the conditional entropy and its pi-weighted contribution;
# entropy_rate / max_entropy (ln k) / efficiency repeat as global
# scalars (allowed class). Determinism: p_ij are exact count rationals;
# every p*ln(p) and pi*H term is ROUND(...,9)-quantized then
# DECIMAL-summed (the ln discipline); the efficiency ratio uses the
# floor(x*1e6+0.5) spelling. Scale: one LAG window on the user_id
# shuffle + a k^2 census (k = |event types|, bounded); the iteration is
# k-sized joins. Non-vacuous at sf0.01 (probed): 5 states, distinct
# conditional entropies 1.607896-1.609135 nats, distinct contributions;
# efficiency 0.999547 < 1 (near-uniform synthetic behavior, but every
# defining column varies across rows).
def _sql_entropy_rate(n_iters: int = 16) -> str:
    parts = ["""trans AS (
      SELECT f, t, CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY f) AS p
      FROM (
        SELECT prev AS f, event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE prev IS NOT NULL
        GROUP BY prev, event_type
      ) x
    )""", """states AS (SELECT f AS s FROM trans GROUP BY f)""", """pi0 AS (
      SELECT s, CAST(1.0e0 AS DOUBLE) / (SELECT COUNT(*) FROM states) AS p
      FROM states
    )"""]
    for k in range(1, n_iters + 1):
        parts.append(f"""pi{k} AS (
      SELECT t.t AS s,
             CAST(CAST(SUM(CAST(ROUND(p.p * t.p, 9) AS DECIMAL(18, 9))) AS DECIMAL(18, 9))
                  AS DOUBLE) AS p
      FROM pi{k - 1} p JOIN trans t ON t.f = p.s
      GROUP BY t.t
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    {ctes},
    hcond AS (
      SELECT f AS s,
             CAST(-SUM(CAST(ROUND(p * ln(p), 9) AS DECIMAL(18, 9))) AS DOUBLE) AS h
      FROM trans GROUP BY f
    ),
    contrib AS (
      SELECT c.s, c.h, COALESCE(f.p, 0.0e0) AS pi,
             CAST(ROUND(COALESCE(f.p, 0.0e0) * c.h, 9) AS DECIMAL(18, 9)) AS w
      FROM hcond c LEFT JOIN pi{n_iters} f ON f.s = c.s
    ),
    rate AS (
      SELECT CAST(SUM(w) AS DOUBLE) AS hr,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM contrib
    ),
    maxent AS (
      SELECT hr, k,
             CASE WHEN k > 1 THEN
               CAST(CAST(ROUND(ln(CAST(k AS DOUBLE)), 9) AS DECIMAL(18, 9))
                    AS DOUBLE)
             ELSE CAST(NULL AS DOUBLE) END AS lnk
      FROM rate
    )
    SELECT c.s AS event_type,
           ROUND(c.pi, 6) AS stationary_prob,
           ROUND(c.h, 6) AS cond_entropy_nats,
           ROUND(CAST(c.w AS DOUBLE), 6) AS contribution_nats,
           ROUND(m.hr, 6) AS entropy_rate_nats,
           ROUND(m.lnk, 6) AS max_entropy_nats,
           floor(m.hr / NULLIF(m.lnk, 0.0e0) * 1000000.0e0 + 0.5e0)
             / 1000000.0e0 AS efficiency
    FROM contrib c CROSS JOIN maxent m
    ORDER BY c.s
    """


@register("events_entropy_rate", oracle=_sql_entropy_rate())
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events")
    return spark.sql(_sql_entropy_rate())


# --------------------------------------------------------------------------
# orders_newsvendor_plan — per-brand newsvendor stocking table: for each
# service-level target (80/90/95%), the exact empirical quantile of the
# brand's DAILY demand distribution (type-1 quantile via rank census:
# smallest stocked quantity whose rank >= ceil(beta*n_days)), plus what
# that stock level actually achieves — in-stock day rate, mean daily
# shortfall, and unit fill rate 1 - shortfall/total_demand. The standard
# single-period inventory readout (critical-fractile stocking) that
# lineitem_reorder_point (mean + z*sd lead-time heuristic) and
# lineitem_eoq_plan (order sizing) don't cover: this one is
# distribution-exact and reports the service/fill tradeoff curve.
# Determinism: daily demand totals are integral (l_quantity is
# integer-valued; DECIMAL-summed), so every ratio is an int/int
# rational — identical doubles in both engines under the
# floor(x*1e6+0.5) spelling; the quantile rank is pure integer
# ceil-division; the rank window tie-breaks equal quantities by day.
# Scale: one fact-table groupBy onto the bounded brand x day census
# (~25 x 2500 keys), windows partitioned BY BRAND — never global; the
# grid join is against 3 literals. Non-vacuous at sf0.01 (probed): 75
# rows, 41 distinct stock levels spanning 49-102, fill rates
# 0.855841-0.979879 and mean daily shortfalls all 75 distinct,
# achieved_service spans 0.8-0.953903 straddling each target.
_NEWSVENDOR_SQL = """
    WITH daily AS (
      SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(12, 2))) AS DOUBLE) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE)
    ),
    stats AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(q AS DECIMAL(14, 2))) AS DOUBLE) AS total_q
      FROM daily GROUP BY brand
    ),
    ranked AS (
      SELECT brand, q,
             ROW_NUMBER() OVER (PARTITION BY brand ORDER BY q, d) AS rk
      FROM daily
    ),
    grid AS (SELECT 80 AS svc UNION ALL SELECT 90 UNION ALL SELECT 95),
    stock AS (
      SELECT r.brand, g.svc, MIN(r.q) AS s
      FROM ranked r
      JOIN stats st ON st.brand = r.brand
      CROSS JOIN grid g
      WHERE r.rk >= ((g.svc * st.n_days + 99) {idiv} 100)
      GROUP BY r.brand, g.svc
    ),
    short AS (
      SELECT d.brand, s.svc, s.s,
             CAST(SUM(CAST(CASE WHEN d.q > s.s THEN d.q - s.s ELSE 0 END
                           AS DECIMAL(14, 2))) AS DOUBLE) AS tot_short,
             CAST(SUM(CASE WHEN d.q <= s.s THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
      FROM daily d JOIN stock s ON s.brand = d.brand
      GROUP BY d.brand, s.svc, s.s
    )
    SELECT sh.brand, CAST(sh.svc AS BIGINT) AS service_target_pct,
           st.n_days,
           CAST(sh.s AS DOUBLE) AS stock_level,
           floor(CAST(sh.n_ok AS DOUBLE) / st.n_days * 1000000.0e0 + 0.5e0)
             / 1000000.0e0 AS achieved_service,
           floor(sh.tot_short / st.n_days * 1000000.0e0 + 0.5e0)
             / 1000000.0e0 AS mean_daily_shortfall,
           floor((1.0e0 - sh.tot_short / NULLIF(st.total_q, 0.0e0))
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS fill_rate
    FROM short sh JOIN stats st ON st.brand = sh.brand
    ORDER BY sh.brand, sh.svc
"""


@register("orders_newsvendor_plan", oracle=_NEWSVENDOR_SQL.format(idiv="//"))
def orders_newsvendor_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem", "part")
    return spark.sql(_NEWSVENDOR_SQL.format(idiv="DIV"))
