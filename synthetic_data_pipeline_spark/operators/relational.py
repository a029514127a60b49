"""Relational core: joins, aggregations, windows, set ops, sorts.

SURVEY.md §2 [E]-category operators (J5-J7, A9-A11, W4, O5, U3) plus the
reference-shaped primitives (P1-P9, A1-A8) exercised over the driver's
TPC-H-ish tables. Every builder has an equivalent ANSI-SQL oracle in
``ORACLES`` — the pair is the correctness contract.

Cross-engine hash-match rules (applied on BOTH sides):
- every computed double is ``round(x, k)``;
- every tie-sensitive top-k is ranked by (rounded value, unique key),
  never a bare LIMIT;
- integer aggregates cast to BIGINT in DuckDB (it would widen to
  HUGEINT otherwise);
- EXTRACT results cast to match Spark's INT.

Scale notes are inline per query: which side broadcasts, where the
shuffles are, why the plan survives 100TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import eround
from ..sources.tables import load_table


def ranked_topk(df: DataFrame, order_by: list, k: int, rk_name: str = "rk") -> DataFrame:
    """Deterministic global top-k WITHOUT a single-partition window.

    ``orderBy(...).limit(k)`` plans TakeOrderedAndProject — each task
    keeps its local top-k, the driver merges k·p rows — then the rank
    column is computed by a window over only the k survivors. A bare
    ``row_number() OVER (ORDER BY ...)`` would shuffle the whole input
    to one partition, which dies at 100TB.

    ``order_by`` must be a total order (include a unique key tiebreak)
    so the k-th row is engine-independent.
    """
    top = df.orderBy(*order_by).limit(k)
    w = Window.orderBy(*order_by)
    return top.withColumn(rk_name, F.row_number().over(w))


# --- q01: scan → filter → hash agg (TPC-H Q1 shape). One shuffle over a
# 6-group key; partial aggregation makes the map side do ~all the work.
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            eround(F.sum("l_quantity"), 2).alias("sum_qty"),
            eround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            eround(F.sum(disc_price), 2).alias("sum_disc_price"),
            eround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            eround(1e-9 + F.avg("l_quantity"), 4).alias("avg_qty"),
            eround(1e-9 + F.avg("l_extendedprice"), 4).alias("avg_price"),
            eround(1e-9 + F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- q02: 3-way join → agg → deterministic top-k via window (not LIMIT,
# so rounding ties can't diverge between engines). customer side is the
# smaller build side; at scale orders⋈lineitem is the big SMJ and AQE
# handles skew.
def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            eround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return ranked_topk(rev, [F.desc("revenue"), F.asc("o_orderkey")], 10).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "revenue",
        "rk",
    )


# --- q03: 6-way star join (TPC-H Q5 shape). region/nation/supplier are
# tiny → broadcast; only customer⋈orders⋈lineitem shuffle on keys.
def q03_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            eround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


# --- q04: EXISTS → left-semi join (SURVEY J6).
def q04_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- q05: NOT EXISTS → left-anti join (SURVEY J6).
def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            eround(1e-9 + F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --- q06: pure filter → global agg (TPC-H Q6 shape); fully pushed-down
# predicates, no shuffle at all after AQE folds the single-row agg.
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        eround(F.coalesce(F.sum(F.col("l_extendedprice") * F.col("l_discount")), F.lit(0.0)), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


# --- q07: broadcast dim join + agg over ~nations groups.
def q07_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            eround(1e-9 + F.avg("c_acctbal"), 4).alias("avg_acctbal"),
            eround(F.min("c_acctbal"), 2).alias("min_acctbal"),
            eround(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


# --- q08: single-table group by low-cardinality string key.
def q08_parts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(
            F.count("*").alias("n_parts"),
            eround(1e-9 + F.avg("p_retailprice"), 4).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_type")
    )


# --- q09: TPC-H Q10 shape — returned-item revenue per customer, top-20
# via ranked window on (rounded revenue, key).
def q09_returned_revenue_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            eround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return ranked_topk(rev, [F.desc("revenue"), F.asc("c_custkey")], 20).select(
        "c_custkey", "c_name", "n_name", "revenue", "rk"
    )


# --- q10: ROLLUP (SURVEY A9) — hierarchical totals in one pass.
def q10_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            eround(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_price",
        )
        .orderBy("orderstatus", "orderpriority")
    )


# --- q11: CUBE (SURVEY A9).
def q11_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            eround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# --- q12: per-group top-N via ranking window (SURVEY W2/W4). The window
# partitions on the shuffle key — one shuffle, no global sort.
def q12_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# --- q13: running (cumulative) sum per key (SURVEY W4 frame spec).
def q13_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        eround(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# --- q14: lag/lead analytics (SURVEY W4).
def q14_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "gap_days"
        ),
    )


# --- q15: global top-k (SURVEY O5). Ranked on raw column + key (no
# arithmetic → bit-exact across engines).
def q15_top_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return ranked_topk(
        part, [F.desc("p_retailprice"), F.asc("p_partkey")], 10
    ).select("p_partkey", "p_name", "p_retailprice", "rk")


# --- q16: DISTINCT (SURVEY U1).
def q16_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select("c_mktsegment").distinct().orderBy("c_mktsegment")


# --- q17/q18: INTERSECT / EXCEPT (SURVEY U3).
def q17_nations_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.intersect(s).orderBy("nationkey")


def q18_nations_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.exceptAll(s).orderBy("nationkey")


# --- q19: UNION ALL + group (SURVEY U2).
def q19_entity_counts_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("entity")
    )
    s = supplier.select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("entity")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey", "entity")
        .agg(F.count("*").alias("n"))
        .orderBy("nationkey", "entity")
    )


# --- q20: correlated EXISTS through the SQL front-end (Catalyst rewrites
# it to a semi join — proof the engine's SQL surface works).
def q20_exists_heavy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )


# --- q21: string function surface (SURVEY F24/P8 analogues).
def q21_brand_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.upper(F.substring("p_brand", 1, 5)).alias("brand_prefix")
        )
        .agg(
            F.count("*").alias("n"),
            eround(1e-9 + F.avg(F.length("p_name")), 4).alias("avg_name_len"),
        )
        .orderBy("brand_prefix")
    )


# --- q22: date function surface (SURVEY F25).
def q22_monthly_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            eround(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("order_year", "order_month")
    )


# --- q23: conditional aggregation (SURVEY A3 — the TP/FP counting shape).
def q23_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "n_finished"
            ),
            eround(
                1e-9
                + F.avg(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))),
                4,
            ).alias("avg_open_price"),
        )
        .orderBy("o_orderpriority")
    )


# --- q24: exact percentiles (SURVEY A10's exact twin — approx variant is
# q25, rows-only checked since HLL/t-digest sketches differ per engine).
def q24_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            eround(1e-9 + F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            eround(1e-9 + F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
        )
        .orderBy("o_orderpriority")
    )


# --- q201: approx_percentile accuracy audit (round 12, VERDICT r11
# #4) — the measured basis for every "swap exact percentile for
# approx_percentile at scale" claim (q111/q169/q187/q190/q194 cite
# this row instead of asserting it). Spark's percentile_approx is a
# Greenwald-Khanna sketch whose contract is RANK error ≤ n/accuracy;
# per (accuracy × quantile) cell the audit computes the estimate's
# actual rank window (#{x < v}, #{x ≤ v} — duplicates make rank an
# interval) and checks it against the target rank ± n/accuracy (+1
# interpolation slack). The approx VALUES are engine-specific (like
# q25's HLL state) so the hashable contract is (exact percentile,
# within_bound) — a Spark GK regression flips the boolean and fails
# the driver hash match. The two arms' wall clock was A/B'd at
# 1×/10×/100× by the scaling probe (``pctl_ab`` rows, in git history).
#
# Scale shape (r13, VERDICT r12 #5): the exact arm no longer pays a
# full-sort-class ``percentile()`` aggregate — it rides the q200
# DDSketch-guided order statistic (sketches.dds_order_statistics:
# log-bucket histogram → rank only the picked buckets) and
# interpolates with Spark Percentile's own formula
# ``(hi-pos)*x_lo + (pos-lo)*x_hi`` at 0-based pos=(n-1)·q, so the
# value is bit-identical to what percentile() returned (exact is
# exact; the driver hash is unchanged — r12's 8.3 s headline was all
# in the sort arm). Remaining passes: one GK+count aggregate, the
# bounded histogram groupBy, the picked-bucket rank, and the 18-rank-
# predicate aggregate — all streaming-aggregate class.
_PCTL_QS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
_PCTL_ACCS = (100, 1000, 10000)


def q201_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    qs = [q for _, q in _PCTL_QS]
    aggs = [
        F.count("x").alias("n"),
        F.sum(F.when(F.col("x") <= 0, 1).otherwise(0)).alias("nonpos"),
    ]
    for acc in _PCTL_ACCS:
        aggs.append(
            F.percentile_approx("x", qs, acc).alias(f"ap_{acc}")
        )
    one = li.agg(*aggs).collect()[0]  # 1 row
    n = one["n"]
    # exact arm via the q200 sketch-guided order statistic (log-bucket
    # domain needs x > 0; l_extendedprice is positive by construction —
    # the guard keeps the audit honest on any other column)
    if one["nonpos"]:
        raise ValueError("q201 exact arm requires positive values")
    from .sketches import dds_order_statistics

    exact = {}
    pos = {q: (n - 1) * q for q in qs}  # Percentile's 0-based position
    ranks = set()
    for p in pos.values():
        ranks.add(math.floor(p) + 1)
        ranks.add(math.ceil(p) + 1)
    ostat = dds_order_statistics(li, "x", sorted(ranks))
    for q, p in pos.items():
        lo, hi = math.floor(p), math.ceil(p)
        if hi == lo:
            exact[q] = ostat[lo + 1]
        else:
            # Spark Percentile.getPercentile's exact FP expression
            exact[q] = (hi - p) * ostat[lo + 1] + (p - lo) * ostat[hi + 1]
    cells = []  # (accuracy, label, q, approx_value)
    rank_aggs = []
    for acc in _PCTL_ACCS:
        for i, (label, q) in enumerate(_PCTL_QS):
            v = one[f"ap_{acc}"][i]
            j = len(cells)
            cells.append((acc, label, q, v))
            rank_aggs.append(
                F.sum(F.when(F.col("x") < F.lit(v), 1).otherwise(0))
                .alias(f"lt_{j}")
            )
            rank_aggs.append(
                F.sum(F.when(F.col("x") <= F.lit(v), 1).otherwise(0))
                .alias(f"le_{j}")
            )
    rk = li.agg(*rank_aggs).collect()[0]  # 1 row, 18 scalars
    rows = []
    for j, (acc, label, q, _v) in enumerate(cells):
        target = q * (n - 1) + 1  # percentile_cont's continuous rank
        tol = n / acc + 1
        ok = (rk[f"lt_{j}"] + 1 <= math.ceil(target) + tol) and (
            rk[f"le_{j}"] >= math.floor(target) - tol
        )
        rows.append(
            (acc, label, n, round(1e-9 + exact[q], 4), bool(ok))
        )
    return spark.createDataFrame(
        sorted(rows),
        "accuracy int, quantile string, n long, exact double,"
        " within_bound boolean",
    )


def _q201_oracle() -> str:
    arows = ", ".join(f"({a})" for a in _PCTL_ACCS)
    cols = ", ".join(
        f"round(1e-9 + quantile_cont(x, {q!r}), 4) AS {L}"
        for L, q in _PCTL_QS
    )
    unions = "\n        UNION ALL ".join(
        f"SELECT '{L}' AS label, n, {L} AS exact FROM ex"
        for L, _ in _PCTL_QS
    )
    return f"""
      WITH v AS MATERIALIZED (SELECT l_extendedprice AS x FROM lineitem),
      accs(accuracy) AS (VALUES {arows}),
      ex AS MATERIALIZED (
        SELECT count(*) AS n, {cols} FROM v
      ),
      exl AS (
        {unions}
      )
      SELECT CAST(a.accuracy AS INTEGER) AS accuracy,
             e.label AS quantile,
             CAST(e.n AS BIGINT) AS n,
             e.exact,
             TRUE AS within_bound
      FROM accs a, exl e
      ORDER BY accuracy, quantile
    """


# q25: the HLL sketch value itself is engine-specific, so the checkable
# contract is the ESTIMATE'S ERROR BOUND: |approx - exact| ≤ 3·rsd·exact
# (rsd 0.05 → P(violation) ~ erfc(3/√2), negligible). The oracle expects
# within_bound = TRUE for every group — a Spark HLL regression flips the
# boolean and fails the hash match, unlike the old rows-only check.
_HLL_RSD = 0.05


def q25_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", _HLL_RSD).alias("approx"),
            F.countDistinct("o_custkey").alias("n_exact"),
        )
        .select(
            "o_orderstatus",
            "n_exact",
            (
                F.abs(F.col("approx") - F.col("n_exact"))
                <= 3 * _HLL_RSD * F.col("n_exact")
            ).alias("within_bound"),
        )
        .orderBy("o_orderstatus")
    )


def q26_exact_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("o_orderstatus")
    )


# --- q27: non-equi (range) join against a tiny literal dimension —
# BroadcastNestedLoopJoin, the right plan when the build side is 4 rows
# (SURVEY J7).
_PRICE_BUCKETS = [
    ("p00_low", 0.0, 10_000.0),
    ("p01_mid", 10_000.0, 30_000.0),
    ("p02_high", 30_000.0, 60_000.0),
    ("p03_top", 60_000.0, 1e18),
]


def q27_price_bucket_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        _PRICE_BUCKETS, ["bucket", "lo", "hi"]
    )
    return (
        li.join(
            F.broadcast(buckets),
            (li.l_extendedprice >= buckets.lo) & (li.l_extendedprice < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_items"),
            eround(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("bucket")
    )


# --- q28: RANGE frame — trailing-30-day spend per order, per customer
# (value-based frame, not row-based; SURVEY W4 frame specs).
def q28_trailing_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("timestamp"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        eround(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        F.count("*").over(w).alias("n_orders_30d"),
    )


# --- q29: analytic function battery — ntile / percent_rank / cume_dist
# over a deterministic total order, computed TWO-PHASE (sampled range
# buckets + per-bucket rank + bucket-count offsets; functions/ranking.py)
# instead of a single-partition global window — no "WindowExec: No
# Partition Defined" stage, scales to any table size. Equivalence with
# the built-in window functions is pinned by tests/test_plans.py.
def q29_price_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranking import global_analytics

    part = load_table(spark, sf_dir, "part")
    ranked = global_analytics(
        part, "p_retailprice", "p_partkey", n_buckets=32, ntile_k=10,
        ntile_name="decile",
    )
    return ranked.select(
        "p_partkey",
        F.col("decile"),
        eround(F.col("pct_rank"), 6).alias("pct_rank"),
        eround(F.col("cume"), 6).alias("cume"),
    ).filter(F.col("p_partkey") % 20 == 0)


# --- q196: declarative constraint audit (round 11, session 2) — the
# Great-Expectations-class data-quality gate a lake runs before
# publishing tables: not-null, key uniqueness (single and composite),
# value ranges, and referential integrity, each evaluated as ONE
# aggregate or anti-join over its table and unioned into a pass/fail
# report. The reference's validator tier checks CONTENT (q62/q90/q98);
# this checks RELATIONAL INVARIANTS — the other half of pipeline QA.
# Scale shape: each row is a map-side-combined scan agg; the FK checks
# are anti-joins whose build side is the referenced KEY column only
# (AQE broadcasts when it fits); the report is 8 one-row frames
# unioned. All counts exact ints — no float anywhere.
def q196_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def row(name: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_checked"),
            F.sum(F.when(viol, 1).otherwise(0)).alias("n_violations"),
        ).select(
            F.lit(name).alias("constraint"),
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("ok"),
        )

    def uniq(name: str, df: DataFrame, key) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_checked"),
            (F.count("*") - F.countDistinct(key)).alias("n_violations"),
        ).select(
            F.lit(name).alias("constraint"),
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("ok"),
        )

    def fk(name: str, child: DataFrame, ckey: str, parent: DataFrame,
           pkey: str) -> DataFrame:
        orphans = child.join(
            parent.select(F.col(pkey).alias(ckey)).distinct(), ckey, "anti"
        )
        n = child.agg(F.count("*").alias("n_checked"))
        v = orphans.agg(F.count("*").alias("n_violations"))
        return n.crossJoin(v).select(
            F.lit(name).alias("constraint"),
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("ok"),
        )

    composite = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    reports = [
        uniq("customer_custkey_unique", customer, F.col("c_custkey")),
        fk("lineitem_orderkey_fk", lineitem, "l_orderkey", orders,
           "o_orderkey"),
        uniq("lineitem_orderline_unique", lineitem, composite),
        row("lineitem_discount_range", lineitem,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        row("lineitem_quantity_positive", lineitem, F.col("l_quantity") < 1),
        fk("orders_custkey_fk", orders, "o_custkey", customer, "c_custkey"),
        row("orders_orderdate_not_null", orders,
            F.col("o_orderdate").isNull()),
        row("orders_totalprice_positive", orders,
            F.col("o_totalprice") <= 0),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("constraint")


_Q196_ORACLE = """
    SELECT * FROM (
      SELECT 'customer_custkey_unique' AS "constraint",
             count(*) AS n_checked,
             count(*) - count(DISTINCT c_custkey) AS n_violations,
             (count(*) - count(DISTINCT c_custkey)) = 0 AS ok
      FROM customer
      UNION ALL
      SELECT 'lineitem_orderkey_fk', count(*),
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
      FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem_orderline_unique', count(*),
             count(*) - count(DISTINCT concat(CAST(l_orderkey AS VARCHAR), ':',
                                              CAST(l_linenumber AS VARCHAR))),
             (count(*) - count(DISTINCT concat(CAST(l_orderkey AS VARCHAR), ':',
                                               CAST(l_linenumber AS VARCHAR)))) = 0
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_discount_range', count(*),
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                      THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN l_discount < 0 OR l_discount > 1
                 THEN 1 ELSE 0 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_quantity_positive', count(*),
             CAST(sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'orders_custkey_fk', count(*),
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0
      FROM orders o2 LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o2.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'orders_orderdate_not_null', count(*),
             CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
      FROM orders
      UNION ALL
      SELECT 'orders_totalprice_positive', count(*),
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
      FROM orders
    ) ORDER BY "constraint"
"""


# --- q197: join-key skew audit (round 11, session 2) — the pre-flight
# a 100 TB join runs before choosing a strategy: per (table, key), the
# per-key row-count distribution (avg, p99, max) and the skew factor
# max/avg. A skew factor in the tens means the hottest key's partition
# dominates the stage wall-clock — the number that decides between a
# plain shuffle join, AQE skew splitting, and q92's salting. Scale
# shape: one map-side-combined (key) count per audited column, then a
# 1-row percentile agg over the per-key frame (per-key counts are
# |keys|-sized — far smaller than the table); three audits unioned.
# Exact percentile ↔ quantile_cont (q111 pairing).
_SKEW_AUDITS = (  # (label, table, key column)
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
)


def q197_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for label, table, key in _SKEW_AUDITS:
        per_key = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        outs.append(
            per_key.agg(
                F.sum("n").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.expr("percentile(n, 0.99D)").alias("_p99"),
                F.max("n").alias("max_rows"),
            ).select(
                F.lit(label).alias("join_key"),
                "n_rows",
                "n_keys",
                eround(
                    1e-9 + F.col("n_rows") / F.col("n_keys").cast("double"), 4
                ).alias("avg_rows_per_key"),
                eround(1e-9 + F.col("_p99"), 4).alias("p99_rows"),
                "max_rows",
                eround(
                    1e-9
                    + F.col("max_rows")
                    / (F.col("n_rows") / F.col("n_keys").cast("double")),
                    4,
                ).alias("skew_factor"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("join_key")


def _q197_oracle() -> str:
    parts = []
    for label, table, key in _SKEW_AUDITS:
        parts.append(f"""
      SELECT '{label}' AS join_key,
             CAST(sum(n) AS BIGINT) AS n_rows,
             count(*) AS n_keys,
             round(1e-9 + sum(n) / CAST(count(*) AS DOUBLE), 4)
               AS avg_rows_per_key,
             round(1e-9 + quantile_cont(n, 0.99), 4) AS p99_rows,
             CAST(max(n) AS BIGINT) AS max_rows,
             round(1e-9 + max(n)
                   / (sum(n) / CAST(count(*) AS DOUBLE)), 4) AS skew_factor
      FROM (SELECT {key} AS k, count(*) AS n FROM {table} GROUP BY {key})""")
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts)
        + ") ORDER BY join_key"
    )


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q196_constraint_audit": q196_constraint_audit,
    "q197_join_skew_audit": q197_join_skew_audit,
    "q28_trailing_30d_spend": q28_trailing_30d_spend,
    "q29_price_analytics": q29_price_analytics,
    "q02_top_revenue_orders": q02_top_revenue_orders,
    "q03_regional_revenue": q03_regional_revenue,
    "q04_priority_with_returns": q04_priority_with_returns,
    "q05_customers_without_orders": q05_customers_without_orders,
    "q06_forecast_revenue": q06_forecast_revenue,
    "q07_acctbal_by_nation": q07_acctbal_by_nation,
    "q08_parts_by_type": q08_parts_by_type,
    "q09_returned_revenue_top_customers": q09_returned_revenue_top_customers,
    "q10_rollup_orders": q10_rollup_orders,
    "q11_cube_lineitem": q11_cube_lineitem,
    "q12_top_orders_per_customer": q12_top_orders_per_customer,
    "q13_running_total": q13_running_total,
    "q14_order_gap_days": q14_order_gap_days,
    "q15_top_parts_by_price": q15_top_parts_by_price,
    "q16_distinct_segments": q16_distinct_segments,
    "q17_nations_intersect": q17_nations_intersect,
    "q18_nations_except": q18_nations_except,
    "q19_entity_counts_by_nation": q19_entity_counts_by_nation,
    "q20_exists_heavy_orders": q20_exists_heavy_orders,
    "q21_brand_prefix_stats": q21_brand_prefix_stats,
    "q22_monthly_sales": q22_monthly_sales,
    "q23_conditional_agg": q23_conditional_agg,
    "q24_price_percentiles": q24_price_percentiles,
    "q201_percentile_accuracy": q201_percentile_accuracy,
    "q25_approx_distinct_customers": q25_approx_distinct_customers,
    "q26_exact_distinct_customers": q26_exact_distinct_customers,
    "q27_price_bucket_range_join": q27_price_bucket_range_join,
}

ORACLES = {
    "q196_constraint_audit": _Q196_ORACLE,
    "q197_join_skew_audit": _q197_oracle(),
    "q28_trailing_30d_spend": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER w, 2) AS spend_30d,
               count(*) OVER w AS n_orders_30d
        FROM (SELECT *, CAST(date_diff('day', TIMESTAMP '1990-01-01 00:00:00', o_orderdate) AS INTEGER) AS day
              FROM orders)
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
    "q29_price_analytics": """
        SELECT p_partkey,
               CAST(ntile(10) OVER w AS INTEGER) AS decile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM part
        WINDOW w AS (ORDER BY p_retailprice ASC, p_partkey ASC)
        QUALIFY p_partkey % 20 = 0
    """,
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(1e-9 + avg(l_quantity), 4) AS avg_qty,
               round(1e-9 + avg(l_extendedprice), 4) AS avg_price,
               round(1e-9 + avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q02_top_revenue_orders": """
        WITH rev AS (
          SELECT o_orderkey, o_orderdate,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY o_orderkey, o_orderdate
        ), ranked AS (
          SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, revenue,
                 CAST(row_number() OVER (ORDER BY revenue DESC, o_orderkey ASC) AS INTEGER) AS rk
          FROM rev
        )
        SELECT * FROM ranked WHERE rk <= 10
    """,
    "q03_regional_revenue": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lineitems
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
    """,
    "q04_priority_with_returns": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q05_customers_without_orders": """
        SELECT c_mktsegment, count(*) AS n_customers,
               round(1e-9 + avg(c_acctbal), 4) AS avg_acctbal
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q06_forecast_revenue": """
        SELECT round(coalesce(sum(l_extendedprice * l_discount), 0.0), 2) AS revenue,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q07_acctbal_by_nation": """
        SELECT r_name, n_name, count(*) AS n_customers,
               round(1e-9 + avg(c_acctbal), 4) AS avg_acctbal,
               round(min(c_acctbal), 2) AS min_acctbal,
               round(max(c_acctbal), 2) AS max_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
    "q08_parts_by_type": """
        SELECT p_type, count(*) AS n_parts,
               round(1e-9 + avg(p_retailprice), 4) AS avg_price,
               max(p_size) AS max_size
        FROM part GROUP BY p_type ORDER BY p_type
    """,
    "q09_returned_revenue_top_customers": """
        WITH rev AS (
          SELECT c_custkey, c_name, n_name,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
          JOIN nation   ON c_nationkey = n_nationkey
          GROUP BY c_custkey, c_name, n_name
        ), ranked AS (
          SELECT c_custkey, c_name, n_name, revenue,
                 CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS INTEGER) AS rk
          FROM rev
        )
        SELECT * FROM ranked WHERE rk <= 20
    """,
    "q10_rollup_orders": """
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY orderstatus, orderpriority
    """,
    "q11_cube_lineitem": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
    """,
    "q12_top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
                 ) AS INTEGER) AS rn
          FROM orders
        ) WHERE rn <= 3
    """,
    "q13_running_total": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS running_total
        FROM orders
    """,
    "q14_order_gap_days": """
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS INTEGER) AS gap_days
        FROM orders
    """,
    "q15_top_parts_by_price": """
        SELECT p_partkey, p_name, p_retailprice, rk FROM (
          SELECT p_partkey, p_name, p_retailprice,
                 CAST(row_number() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rk
          FROM part
        ) WHERE rk <= 10
    """,
    "q16_distinct_segments": """
        SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
    """,
    "q17_nations_intersect": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    "q18_nations_except": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    "q19_entity_counts_by_nation": """
        SELECT nationkey, entity, count(*) AS n FROM (
          SELECT c_nationkey AS nationkey, 'customer' AS entity FROM customer
          UNION ALL
          SELECT s_nationkey AS nationkey, 'supplier' AS entity FROM supplier
        )
        GROUP BY nationkey, entity ORDER BY nationkey, entity
    """,
    "q20_exists_heavy_orders": """
        SELECT o_orderstatus, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q21_brand_prefix_stats": """
        SELECT upper(substr(p_brand, 1, 5)) AS brand_prefix, count(*) AS n,
               round(1e-9 + avg(length(p_name)), 4) AS avg_name_len
        FROM part GROUP BY 1 ORDER BY brand_prefix
    """,
    "q22_monthly_sales": """
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY 1, 2 ORDER BY order_year, order_month
    """,
    "q23_conditional_agg": """
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
               round(1e-9 + avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS avg_open_price
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q24_price_percentiles": """
        SELECT o_orderpriority,
               round(1e-9 + CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 2) AS median_price,
               round(1e-9 + CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 2) AS p90_price
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q201_percentile_accuracy": _q201_oracle(),
    # q25 intentionally absent: approximate sketches (HLL) are
    # engine-specific — driver records the weaker rows-only check.
    # q25: DuckDB can't reproduce Spark's HLL value, but it CAN assert
    # the contract — exact counts plus an all-TRUE bound column that
    # Spark only matches if its estimate is inside 3·rsd of exact.
    "q25_approx_distinct_customers": """
        SELECT o_orderstatus,
               count(DISTINCT o_custkey) AS n_exact,
               TRUE AS within_bound
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q26_exact_distinct_customers": """
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q27_price_bucket_range_join": """
        SELECT bucket, count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS total_price
        FROM lineitem
        JOIN (VALUES ('p00_low', 0.0, 10000.0),
                     ('p01_mid', 10000.0, 30000.0),
                     ('p02_high', 30000.0, 60000.0),
                     ('p03_top', 60000.0, 1e18)) AS b(bucket, lo, hi)
          ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY bucket ORDER BY bucket
    """,
}
