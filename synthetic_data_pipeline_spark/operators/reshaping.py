"""Reshaping + sampling + estimation operators.

- q79: histogram-based quantile estimation — the deterministic cousin of
  percentile_approx: fixed equi-width buckets, quantile read off the
  cumulative histogram. Unlike t-digest/HLL sketches this is exactly
  reproducible, so it IS oracle-checked (and at scale it is one narrow
  pass + a tiny-key aggregation, no sort).
- q80: reproducible Bernoulli + stratified sampling via the engine's
  md5 counter randomness — sampling a 100TB corpus must be deterministic
  under re-runs and repartitioning, which rand()-based sampling is not.
- q81: pivot (wide conditional aggregation via the DataFrame pivot API;
  the oracle spells out the equivalent conditional columns).
- q82: unpivot/melt via the stack() expression; oracle via UNION ALL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import apply_sql_eround, eround
from ..functions.xsql import expand_u16, hash_unit
from ..sources.tables import load_table

N_BUCKETS = 200
PRICE_LO, PRICE_HI = 800.0, 600_000.0  # o_totalprice domain padding


# --- q79: quantiles from a fixed histogram. Factored into an ADDITIVE
# partial (price_hist — mergeable across batches/partitions/streams,
# the property t-digest needs merge logic for and this gets for free)
# and a read side (quantiles_from_hist), so the same core serves the
# batch query, a persisted incremental index, and the streaming twin
# (streaming/jobs.py::TWINS["hist_index"]) — the evolving-state pattern
# (BM25/dedup/spans/clusters/shards/IVF) extended to ORDER STATISTICS.
def price_hist(orders: DataFrame) -> DataFrame:
    """(bucket, n) fixed-width histogram partial — additive: the hist
    of a union is the bucket-wise sum of the hists."""
    width = (PRICE_HI - PRICE_LO) / N_BUCKETS
    bucket = F.least(
        F.lit(N_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("o_totalprice") - PRICE_LO) / width).cast("int"),
        ),
    )
    return orders.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


def quantiles_from_hist(hist: DataFrame) -> DataFrame:
    """q79's read side over any (bucket, n) frame. The cumulative
    window runs over the ≤N_BUCKETS-row hist (the documented
    bounded-input exception to the no-global-window rule)."""
    width = (PRICE_HI - PRICE_LO) / N_BUCKETS
    total_df = hist.agg(F.sum("n").alias("total"))
    cum = hist.withColumn(
        "cum",
        F.sum("n").over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    ).crossJoin(F.broadcast(total_df))
    out = []
    # threshold via exact integer arithmetic with floor semantics; the
    # oracle mirrors with CAST(floor(t * q) AS BIGINT) — float
    # truncation (int(15000*0.99)=14849) vs decimal rounding would
    # otherwise put the two engines one bucket apart on exact landings.
    for q, num, den in ((0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100)):
        est = (
            cum.filter(F.col("cum") >= F.expr(f"(total * {num}) DIV {den}"))
            .agg(F.min("bucket").alias("b"))
            .select(
                F.lit(q).alias("q"),
                eround(
                    F.lit(PRICE_LO) + (F.col("b") + 1) * F.lit(width), 2
                ).alias("estimate"),
            )
        )
        out.append(est)
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.orderBy("q")


def q79_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantiles_from_hist(price_hist(load_table(spark, sf_dir, "orders")))


def quantiles_from_sink(spark: SparkSession, hist_dir: str) -> DataFrame:
    """q79's table from a sink of additive per-batch hist partials —
    the streaming twin's read side (bucket-wise re-sum, same core)."""
    parts = spark.read.parquet(hist_dir)
    return quantiles_from_hist(
        parts.groupBy("bucket").agg(F.sum("n").alias("n"))
    )


# --- q80: deterministic Bernoulli + stratified sampling.
def q80_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    u = expand_u16(hash_unit("o_orderkey", "sample"), "spark")
    # 10% global sample; stratified 20% for 'F' status rows
    rate = "(CASE WHEN o_orderstatus = 'F' THEN 0.2 ELSE 0.1 END)"
    return spark.sql(
        apply_sql_eround(
            f"""
            SELECT o_orderstatus,
                   count(*) AS n_sampled,
                   round(sum(o_totalprice), 2) AS sampled_total
            FROM orders WHERE {u} < {rate}
            GROUP BY o_orderstatus ORDER BY o_orderstatus
            """
        )
    )


# --- q81: pivot — order counts and total price per priority, statuses
# as columns (DataFrame pivot API with explicit value list so the plan
# is a single pass, no distinct-values pre-query).
def q81_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


# --- q82: unpivot via stack(): per-nation (metric, value) long form.
def q82_unpivot_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    wide = (
        customer.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .join(
            supplier.groupBy(F.col("s_nationkey").alias("c_nationkey")).agg(
                F.count("*").alias("n_suppliers")
            ),
            "c_nationkey",
            "left",
        )
        .na.fill(0)
    )
    return wide.select(
        F.col("c_nationkey").alias("nationkey"),
        F.expr(
            "stack(2, 'customers', n_customers, 'suppliers', n_suppliers) "
            "AS (metric, value)"
        ),
    ).orderBy("nationkey", "metric")


QUERIES = {
    "q79_histogram_quantiles": q79_histogram_quantiles,
    "q80_deterministic_sample": q80_deterministic_sample,
    "q81_pivot_status": q81_pivot_status,
    "q82_unpivot_nation_stats": q82_unpivot_nation_stats,
}


def _q80_oracle() -> str:
    u = expand_u16(hash_unit("o_orderkey", "sample"), "duckdb")
    return f"""
        SELECT o_orderstatus,
               count(*) AS n_sampled,
               round(sum(o_totalprice), 2) AS sampled_total
        FROM orders
        WHERE {u} < (CASE WHEN o_orderstatus = 'F' THEN 0.2 ELSE 0.1 END)
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """


ORACLES = {
    "q79_histogram_quantiles": f"""
        WITH hist AS (
          SELECT least({N_BUCKETS - 1}, greatest(0,
                   CAST(floor((o_totalprice - {PRICE_LO}) / {(PRICE_HI - PRICE_LO) / N_BUCKETS}) AS INTEGER)
                 )) AS bucket,
                 count(*) AS n
          FROM orders GROUP BY 1
        ),
        cum AS (
          SELECT bucket, sum(n) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM hist
        ),
        total AS (SELECT count(*) AS t FROM orders)
        SELECT q,
               round({PRICE_LO} + (b + 1) * {(PRICE_HI - PRICE_LO) / N_BUCKETS}, 2) AS estimate
        FROM (
          SELECT q, (SELECT min(bucket) FROM cum, total
                     WHERE cum >= CAST(floor(t * q) AS BIGINT)) AS b
          FROM (VALUES (0.5), (0.9), (0.99)) v(q)
        ) ORDER BY q
    """,
    "q80_deterministic_sample": _q80_oracle(),
    "q81_pivot_status": """
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q82_unpivot_nation_stats": """
        WITH wide AS (
          SELECT c.c_nationkey AS nationkey,
                 c.n_customers,
                 coalesce(s.n_suppliers, 0) AS n_suppliers
          FROM (SELECT c_nationkey, count(*) AS n_customers
                FROM customer GROUP BY c_nationkey) c
          LEFT JOIN (SELECT s_nationkey, count(*) AS n_suppliers
                     FROM supplier GROUP BY s_nationkey) s
            ON c.c_nationkey = s.s_nationkey
        )
        SELECT nationkey, 'customers' AS metric, n_customers AS value FROM wide
        UNION ALL
        SELECT nationkey, 'suppliers' AS metric, n_suppliers AS value FROM wide
        ORDER BY nationkey, metric
    """,
}
