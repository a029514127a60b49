"""Time-series / event-stream operators, batch-first (SURVEY.md §2.10).

The reference is batch-only; the driver ships an ``events`` table
(event_id, ts, user_id, event_type, value, props JSON) shaped like a
stream. Each operator here is the BATCH form — deterministic and
oracle-checkable — and ``streaming/jobs.py`` lifts the same logic onto
Structured Streaming (same groupBy(window) expressions, plus
watermarks), so batch results double as golden outputs for the
streaming smoke tests.

Scale notes: window aggs shuffle once on (window, key); the as-of join
avoids a per-row subquery by sort-merging a union of both streams and
carrying state with ``last(..., ignorenulls=True)`` — the classic
distributed as-of pattern (one shuffle on user_id, no skew beyond the
hottest user).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import eround
from ..sources.tables import load_table


# --- q30: tumbling window aggregation (F.window ≡ Structured
# Streaming's windowed agg; oracle uses date_trunc because 1h windows
# align to the hour).
def q30_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            eround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# --- q31: sliding window (1h, slide 30m) — each event lands in 2
# windows; the oracle reproduces that with an explicit 2-element unnest.
def q31_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            eround(1e-9 + F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "avg_value",
        )
        .orderBy("window_start")
    )


# --- q32: sessionization with a 30-minute inactivity gap — the batch
# twin of F.session_window. Classic two-window formulation: flag
# gap>30min starts, running-sum the flags into session ids. One shuffle
# on user_id.
def q32_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.col("ts").cast("long") - F.lag("ts").over(w_ord).cast("long")
    ) / 60.0
    with_flag = events.withColumn(
        "new_session",
        F.when(gap_min.isNull() | (gap_min > 30), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = with_sid.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_sec"
        ),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            eround(1e-9 + F.avg("duration_sec"), 4).alias("avg_session_sec"),
            F.max("duration_sec").alias("max_session_sec"),
        )
        .orderBy("user_id")
    )


# --- q33: JSON prop extraction (SURVEY F25). Spark: get_json_object;
# oracle uses a regex so it can't depend on DuckDB's JSON extension.
def q33_json_prop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias("n_with_k"),
            eround(1e-9 + F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- q34: as-of join — for each 'click', the most recent 'error' at or
# before it for the same user (SURVEY J8). Distributed pattern: union
# both sides, one sort within user partitions, carry the last error ts
# forward with last(ignorenulls). DuckDB oracle uses its native ASOF
# JOIN — two very different physical strategies, same relation.
def q34_asof_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts"), F.col("event_id").alias("click_id"),
        F.lit(1).alias("is_click"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(None).cast("long").alias("click_id"),
        F.lit(0).alias("is_click"),
    )
    # Errors sort before clicks at identical ts (is_click ascending) so
    # an error at the same instant counts as "at or before" — matching
    # ASOF JOIN's >= semantics.
    merged = clicks.unionByName(errors).withColumn(
        "err_ts",
        F.last(F.when(F.col("is_click") == 0, F.col("ts")), ignorenulls=True).over(
            Window.partitionBy("user_id")
            .orderBy("ts", "is_click")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        merged.filter(F.col("is_click") == 1)
        .select(
            "user_id",
            "click_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("err_ts", "yyyy-MM-dd HH:mm:ss").alias("last_error_ts"),
        )
        .orderBy("user_id", "click_id")
    )


# --- q108: time-interval (range) join — every (click, error) pair for
# the same user where the error lands within INTERVAL_HOURS after the
# click, aggregated per user. This is the batch form of a Structured
# Streaming stream-stream inner join (equi-key on user_id + time-range
# predicate; see streaming/jobs.py interval_join_stream — the streaming
# twin keeps bounded state via watermarks on BOTH sides). Scale shape:
# the equi-key keeps it a hash join on user_id — the range predicate is
# a post-join filter, never a cross product; per-user fan-out is
# clicks×errors within one user, bounded by the time window at real
# event rates. Latency math in microseconds (unix_micros / epoch_us) —
# whole-second casts would silently floor sub-second latencies.
INTERVAL_HOURS = 6


def q108_click_error_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("ets")
    )
    lat = (
        F.unix_micros("ets") - F.unix_micros("cts")
    ).cast("double") / 1e6
    return (
        clicks.join(errors, "user_id")
        .filter(
            (F.col("ets") > F.col("cts"))
            & (F.col("ets") <= F.col("cts") + F.expr(f"INTERVAL {INTERVAL_HOURS} HOURS"))
        )
        .select("user_id", lat.alias("latency_sec"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            eround(1e-9 + F.avg("latency_sec"), 4).alias("avg_latency_sec"),
            eround(F.min("latency_sec"), 4).alias("min_latency_sec"),
            eround(F.max("latency_sec"), 4).alias("max_latency_sec"),
        )
        .orderBy("user_id")
    )


# --- q35: keyed dedup keeping the earliest event (SURVEY U1 first-wins
# semantics, and the batch twin of dropDuplicatesWithinWatermark).
def q35_first_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
        .orderBy("user_id", "event_type")
    )


# --- q36: top event type per hour — ranking a windowed aggregate
# (window-over-aggregate, the "trending" query shape).
def q36_hourly_top_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("hour").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("hour", "event_type", "n_events")
        .orderBy("hour")
    )


# --- q37: conversion funnel — per user, ordered stage progression
# (first view → first click after it → first purchase after that).
# Pure min-over-conditional aggregation: one shuffle on user_id, no
# joins, no state — the scalable funnel formulation.
def q37_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("t")
    )
    first_click = (
        clicks.join(per_user, "user_id")
        .filter(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t")
    )
    first_purchase = (
        purchases.join(first_click, "user_id")
        .filter(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    return (
        per_user.filter(F.col("t_view").isNotNull())
        .join(first_click, "user_id", "left")
        .join(first_purchase, "user_id", "left")
        .agg(
            F.count("*").alias("n_viewers"),
            F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0)).alias(
                "n_clicked_after_view"
            ),
            F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)).alias(
                "n_purchased_after_click"
            ),
        )
    )


# --- q92: per-event-type stats via two-level SALTED aggregation
# (functions/skew.py — SURVEY §4.4). event_type is the classic
# low-cardinality hot-key: a handful of values over the whole table
# means a plain groupBy sends every row for a type to ONE reducer. The
# salted form shuffles on (event_type, salt) — each hot key fans out
# across 16 reducers with map-side partials — then reduces the tiny
# (event_type) space. Exactly equal to the direct aggregation
# (algebraic fns only; equivalence pinned by test_salted_agg_* and the
# DuckDB oracle).
def q92_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_agg

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value", "ts"
    )
    agg = salted_agg(
        events,
        ["event_type"],
        {
            "n_events": ("count", "event_id"),
            "total_value": ("sum", "value"),
            "first_ts": ("min", "ts"),
            "last_ts": ("max", "ts"),
        },
    )
    return agg.select(
        "event_type",
        "n_events",
        eround(1e-9 + F.col("total_value"), 2).alias("total_value"),
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    ).orderBy("event_type")


# --- q124: behavioral sequence mining — the top event-type sequences
# per session (the dataset builder for behavior/recommendation
# models: each session becomes one ordered training example). Reuses
# q32's sessionization (gap > 30 min starts a new session), then
# serializes each session's event types in (ts, event_id) order and
# ranks the most common sequences. Scale shape: one shuffle on
# user_id for sessionization, one on the sequence string (bounded by
# session length — the 30-minute gap rule caps realistic sessions),
# then a TakeOrdered top-K; no shuffle ever carries more than a
# session's type string.
SEQ_TOPK = 20


def q124_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import ranked_topk

    events = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.col("ts").cast("long") - F.lag("ts").over(w_ord).cast("long")
    ) / 60.0
    with_sid = events.withColumn(
        "new_session",
        F.when(gap_min.isNull() | (gap_min > 30), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    packed = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    seqs = (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">", F.transform(packed, lambda s: s["event_type"])
            ).alias("seq")
        )
        .groupBy("seq")
        .agg(F.count("*").alias("n_sessions"))
    )
    return ranked_topk(
        seqs, [F.desc("n_sessions"), F.asc("seq")], SEQ_TOPK
    ).select("rk", "seq", "n_sessions")


_Q124_ORACLE = f"""
    WITH ord AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR (epoch(ts) - epoch(lag(ts) OVER w)) / 60.0 > 30
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_id
      FROM ord
    ),
    seqs AS (
      SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
      FROM sid GROUP BY user_id, session_id
    ),
    counts AS (
      SELECT seq, count(*) AS n_sessions FROM seqs GROUP BY seq
    )
    SELECT rk, seq, n_sessions FROM (
      SELECT seq, n_sessions,
             CAST(row_number() OVER (ORDER BY n_sessions DESC, seq) AS INT) AS rk
      FROM counts
    ) WHERE rk <= {SEQ_TOPK}
    ORDER BY rk
"""


# --- q123: time-series DENSIFY — the complete hourly spine with
# zero-filled counts and last-observation-carried-forward averages
# (gap filling, the op every dashboard/feature-store pipeline needs
# before resampling). The spine is generated from the observed
# min/max hour (a 1-row aggregate broadcast into a sequence explode),
# so empty hours appear explicitly. Scale note: the LOCF window is
# GLOBAL but runs over the SPINE, whose size is the time range in
# hours — bounded by calendar time, not corpus size (a year is 8,760
# rows even at 100 TB of events), so the single-partition window is
# safe by construction; the heavy table only ever sees one
# hash-aggregate shuffle on the hour key.
def q123_dense_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("h")
    counts = events.select(hour, "value").groupBy("h").agg(
        F.count("*").alias("n_events"),
        eround(1e-9 + F.avg("value"), 4).alias("av"),
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    joined = spine.join(counts, "h", "left").select(
        "h",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        "av",
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        joined.withColumn("av_locf", F.last("av", ignorenulls=True).over(w))
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "av_locf",
        )
        .orderBy("hour")
    )


_Q123_ORACLE = """
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS h, value FROM events
    ),
    c AS (
      SELECT h, count(*) AS n_events, round(1e-9 + avg(value), 4) AS av
      FROM ev GROUP BY h
    ),
    b AS (SELECT min(h) AS mn, max(h) AS mx FROM ev),
    spine AS (
      SELECT unnest(range(mn, mx + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS h
      FROM b
    ),
    j AS (
      SELECT s.h, COALESCE(c.n_events, 0) AS n_events, c.av
      FROM spine s LEFT JOIN c USING (h)
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n_events,
           last_value(av IGNORE NULLS) OVER (
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS av_locf
    FROM j ORDER BY hour
"""


# --- q151: behavioral regularity / bot signals. Scripted traffic is
# REGULAR: near-constant inter-arrival gaps (low coefficient of
# variation) and a collapsed event-type distribution (low entropy) —
# the standard abuse filter before behavioral logs become training
# data. Gaps are integer microseconds (unix_micros / epoch_us in the
# two engines) so the per-user moments see identical inputs; the
# ranking key is eround-ed before the sort so a stddev ulp can't flip
# a rank, and the top-K runs through ranked_topk (TakeOrdered, no
# global window).
BOT_MIN_EVENTS = 10
BOT_TOP_K = 20


def q151_bot_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOT_TOP_K most-regular users (gap CV ascending): per user,
    event count, inter-arrival coefficient of variation, and event-type
    entropy. Per-user windows partition on user_id (bounded groups);
    everything else is two hash aggregates and a bounded top-k."""
    from .relational import ranked_topk

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    gstats = gaps.groupBy("user_id").agg(
        F.avg("gap_us").alias("mu"),
        F.stddev_samp("gap_us").alias("sd"),
    )
    tc = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    tn = tc.groupBy("user_id").agg(F.sum("c").alias("n_events"))
    p = F.col("c") / F.col("n_events")
    ent = (
        tc.join(tn, "user_id")
        .groupBy("user_id", "n_events")
        .agg((-F.sum(p * F.log(p))).alias("entropy"))
    )
    m = (
        ent.join(gstats, "user_id")
        .filter(
            (F.col("n_events") >= BOT_MIN_EVENTS) & (F.col("mu") > 0)
        )
        .select(
            "user_id",
            "n_events",
            eround(F.col("sd") / F.col("mu"), 6).alias("gap_cv"),
            eround(F.lit(1e-9) + F.col("entropy"), 4).alias(
                "type_entropy"
            ),
        )
    )
    return ranked_topk(
        m, [F.asc("gap_cv"), F.asc("user_id")], BOT_TOP_K
    ).select("rk", "user_id", "n_events", "gap_cv", "type_entropy")


_Q151_ORACLE = f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    ),
    gstats AS (
      SELECT user_id, avg(gap_us) AS mu, stddev_samp(gap_us) AS sd
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    ),
    tc AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    tn AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events
           FROM tc GROUP BY 1),
    ent AS (
      SELECT tc.user_id, tn.n_events,
             -sum((tc.c / CAST(tn.n_events AS DOUBLE))
                  * ln(tc.c / CAST(tn.n_events AS DOUBLE))) AS entropy
      FROM tc JOIN tn USING (user_id) GROUP BY 1, 2
    ),
    m AS (
      SELECT e.user_id, e.n_events,
             round(g.sd / g.mu, 6) AS gap_cv,
             round(1e-9 + e.entropy, 4) AS type_entropy
      FROM ent e JOIN gstats g USING (user_id)
      WHERE e.n_events >= {BOT_MIN_EVENTS} AND g.mu > 0
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY gap_cv ASC, user_id ASC) AS rk
      FROM m
    )
    SELECT CAST(rk AS BIGINT) AS rk, user_id, n_events, gap_cv,
           type_entropy
    FROM r WHERE rk <= {BOT_TOP_K} ORDER BY rk
"""


# --- q166: event-distribution drift monitor (round 11) — the
# production data-quality alarm a training-data intake runs on its
# behavioral feeds: per UTC day, KL(day's event-type distribution ‖
# the whole corpus's) plus the day's share of each type, flagging
# days whose mix diverges (pipeline bug, bot wave, schema change
# upstream). q121 measures the same divergence across SOURCES of the
# document corpus; this is its TIME axis over the event stream, and
# the shape a streaming deployment would run against a persisted
# baseline (streaming/jobs.py::TWINS["drift_monitor"]).
#
# Scale shape: one (day, type) hash agg over the stream (map-side
# combined), then all arithmetic runs on the days×types table —
# corpus-size-independent. KL uses q121's log-decomposition (sum of
# c·(ln c + ln n_day... ) — no per-term division knife edges) and is
# smoothing-free because a day's types ⊂ the corpus's types by
# construction. Flag threshold is a fixed constant (a monitor's SLO),
# integer-free math identical in both engines — set two decades above
# the day-to-day sampling noise measured on the driver corpus (~5e-4)
# and well below a real mix shift (a single all-one-type day lands at
# KL ≈ 1): noise days stay quiet even when an incident day
# contaminates the baseline itself.
DRIFT_KL_FLAG = 0.02


def _day_type_counts(events: DataFrame) -> DataFrame:
    """(day, event_type, c_dt) — the one corpus-sized aggregation both
    the batch query and each streaming micro-batch run; everything
    downstream is days×types-sized."""
    return (
        events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("c_dt"))
    )


def _drift_report(dt: DataFrame, totals: DataFrame) -> DataFrame:
    """Per-day KL report from (day, type) counts + the baseline type
    totals (n_all derives from the baseline, so a persisted baseline is
    ONE table). Shared by q166 and the streaming monitor."""
    n = totals.agg(F.sum("c_t").alias("n_all"))
    per_day = (
        dt.join(F.broadcast(totals), "event_type")
        .crossJoin(F.broadcast(n))
        .groupBy("day")
        .agg(
            F.sum("c_dt").alias("n_events"),
            F.count("*").alias("n_types"),
            F.sum(
                F.col("c_dt")
                * (
                    F.log(F.col("c_dt").cast("double"))
                    + F.log(F.col("n_all").cast("double"))
                    - F.log(F.col("c_t").cast("double"))
                )
            ).alias("_num"),
        )
    )
    kl = (
        F.col("_num") / F.col("n_events")
        - F.log(F.col("n_events").cast("double"))
    )
    # flag compares the ROUNDED kl (identical in both engines by the
    # eround contract) so an engine ulp at the threshold can't flip it
    kl_r = eround(1e-9 + kl, 6)
    return per_day.select(
        "day",
        "n_events",
        "n_types",
        kl_r.alias("kl_vs_corpus"),
        F.when(kl_r > DRIFT_KL_FLAG, 1).otherwise(0)
        .cast("int")
        .alias("drifted"),
    ).orderBy("day")


def q166_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _day_type_counts(load_table(spark, sf_dir, "events"))
    totals = dt.groupBy("event_type").agg(F.sum("c_dt").alias("c_t"))
    return _drift_report(dt, totals)


def write_type_baseline(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the event-type baseline (event_type, c_t) the streaming
    drift monitor compares against — the state a deployment trains on
    a reference window and holds fixed while the stream is scored."""
    dt = _day_type_counts(load_table(spark, sf_dir, "events"))
    dt.groupBy("event_type").agg(F.sum("c_dt").alias("c_t")).write.mode(
        "overwrite"
    ).parquet(path)


def drift_report_from(
    spark: SparkSession, counts_dir: str, baseline_dir: str
) -> DataFrame:
    """Final drift table from a streaming sink of per-batch partial
    (day, type) counts + the persisted baseline. A day split across
    micro-batches re-aggregates exactly (counts are additive), so the
    result equals q166 whenever the baseline came from the same data
    (test_drift_monitor_stream_equals_batch)."""
    parts = spark.read.parquet(f"{counts_dir}/batch=*")
    dt = parts.groupBy("day", "event_type").agg(
        F.sum("c_dt").alias("c_dt")
    )
    totals = spark.read.parquet(baseline_dir)
    return _drift_report(dt, totals)


_Q166_ORACLE = f"""
    WITH dt AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             count(*) AS c_dt
      FROM events GROUP BY 1, 2
    ),
    totals AS (SELECT event_type, sum(c_dt) AS c_t FROM dt GROUP BY 1),
    n AS (SELECT sum(c_dt) AS n_all FROM dt),
    per_day AS (
      SELECT day, CAST(sum(c_dt) AS BIGINT) AS n_events,
             count(*) AS n_types,
             sum(c_dt * (ln(CAST(c_dt AS DOUBLE))
                         + ln(CAST(n.n_all AS DOUBLE))
                         - ln(CAST(t.c_t AS DOUBLE)))) AS _num
      FROM dt JOIN totals t USING (event_type) CROSS JOIN n
      GROUP BY day
    )
    SELECT day, n_events, n_types, kl_vs_corpus,
           CAST(CASE WHEN kl_vs_corpus > {DRIFT_KL_FLAG}
                THEN 1 ELSE 0 END AS INTEGER) AS drifted
    FROM (
      SELECT day, n_events, n_types,
             round(1e-9 + _num / n_events
                   - ln(CAST(n_events AS DOUBLE)), 6) AS kl_vs_corpus
      FROM per_day
    ) ORDER BY day
"""


# --- q177: right-to-erasure cascade (round 11) — the GDPR/CCPA
# deletion pass a behavioral-data pipeline must support: given a
# deletion list (here the deterministic user_id % ERASE_USER_MOD == 0
# stand-in for the legal request queue), report the per-event-type
# impact, and `erase_users` materializes the purged stream. Scale
# shape: the report is ONE conditional aggregate over the stream (no
# join at all for a predicate-expressible list); the ACTION is a
# broadcast ANTI-join on the deletion list — the event table is
# never shuffled on user_id, deletion lists are small by nature.
ERASE_USER_MOD = 50


def q177_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    flag = F.col("user_id") % ERASE_USER_MOD == 0
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("rows_before"),
            F.sum(F.when(flag, 1).otherwise(0)).alias("rows_removed"),
            F.sum(F.when(flag, 0).otherwise(1)).alias("rows_remaining"),
            F.countDistinct(
                F.when(flag, F.col("user_id"))
            ).alias("users_removed"),
        )
        .orderBy("event_type")
    )


_Q177_ORACLE = f"""
    SELECT event_type,
           count(*) AS rows_before,
           CAST(sum(CASE WHEN user_id % {ERASE_USER_MOD} = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS rows_removed,
           CAST(sum(CASE WHEN user_id % {ERASE_USER_MOD} = 0
                    THEN 0 ELSE 1 END) AS BIGINT) AS rows_remaining,
           CAST(count(DISTINCT CASE WHEN user_id % {ERASE_USER_MOD} = 0
                      THEN user_id END) AS BIGINT) AS users_removed
    FROM events GROUP BY event_type ORDER BY event_type
"""


# --- q185: event-type transition matrix (round 11) — the first-order
# Markov table product analytics reads as a flow/Sankey: for every
# consecutive same-user event pair within the q124 session gap (30
# min), P(next_type | current_type). Complements the sequence miners:
# q124 counts WHOLE session paths (sparse at long lengths), q36/q37
# count stage hits — this is the dense |types|^2 summary that stays
# readable at any corpus size. Plan: one per-user bounded lag window
# (q151's class — never global), a |types|^2-key count, a |types|-key
# total join; boundary discipline — the 30-min gap compares TRUNCATED
# integer epoch seconds on both engines (Spark cast('long') truncates,
# so the oracle uses floor(epoch(ts)) — DuckDB's bare epoch() is a
# fractional DOUBLE that would flip boundary pairs; the q32 pairing)
# and p is eround-ed 4dp.
TRANSITION_GAP_MIN = 30


def q185_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
        gap_s.alias("gap_s"),
    ).filter(
        F.col("from_type").isNotNull()
        & (F.col("gap_s") <= TRANSITION_GAP_MIN * 60)
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return (
        counts.join(totals, "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            eround(F.col("n_transitions") / F.col("_tot").cast("double"), 4)
            .alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


_Q185_ORACLE = f"""
    WITH pairs AS (
      SELECT lag(event_type) OVER w AS from_type,
             event_type AS to_type,
             floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    counts AS (
      SELECT from_type, to_type, count(*) AS n_transitions
      FROM pairs
      WHERE from_type IS NOT NULL
        AND gap_s <= {TRANSITION_GAP_MIN} * 60
      GROUP BY from_type, to_type
    ),
    totals AS (
      SELECT from_type, sum(n_transitions) AS tot
      FROM counts GROUP BY from_type
    )
    SELECT c.from_type, c.to_type,
           CAST(c.n_transitions AS BIGINT) AS n_transitions,
           round(c.n_transitions / CAST(t.tot AS DOUBLE), 4) AS p
    FROM counts c JOIN totals t USING (from_type)
    ORDER BY c.from_type, c.to_type
"""


def erase_users(events: DataFrame, user_ids: DataFrame) -> DataFrame:
    """The erasure ACTION: every event belonging to a listed user is
    dropped. Broadcast left-anti join — the stream never shuffles on
    user_id (test_erase_users_action pins removal completeness and
    bystander preservation)."""
    dels = user_ids.select("user_id").distinct()
    return events.join(F.broadcast(dels), "user_id", "anti")


# --- q187: robust hourly anomaly scores (round 11) — the rate-spike
# monitor an event pipeline runs continuously: hourly counts per
# event_type scored against a per-(event_type, hour-of-day) baseline
# (median + MAD — robust to the very outliers being hunted, unlike the
# mean/stddev z-score, and seasonal because the baseline is
# hour-of-day-conditioned). Complements q166 (distribution drift
# between two corpus halves) with a point-in-time "WHICH hour spiked"
# table. Scale shape: raw events collapse to an hours×types frame in
# ONE map-side-combined shuffle; both median passes aggregate that
# tiny frame on a |types|×24 key; joins back are broadcasts. Exact
# `percentile` keeps the DuckDB oracle bit-matched (quantile_cont,
# same interpolation — the q111 pairing); at 100 TB you'd swap in
# approx_percentile with the identical plan shape (accuracy/cost
# measured by q201 + SCALING pctl_ab rows). Determinism: counts
# are integers, so med is a multiple of 0.5 and mad of 0.25 — all
# exactly representable; the 3·MAD flag comparison is float-exact on
# both engines, no knife edge.
ANOMALY_K = 3.0  # flag hours beyond K robust sigmas
ANOMALY_MAD_FLOOR = 1.0  # quiet types: don't divide by a ~0 MAD


def _hour_counts(events: DataFrame) -> DataFrame:
    """(event_type, hour_ts, n) — additive partial, so hours split
    across micro-batches re-aggregate exactly (the streaming twin's
    per-batch unit)."""
    return events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count("*").alias("n"))


def _anomaly_baseline(counts: DataFrame) -> DataFrame:
    """(event_type, hod, med, mad) robust baseline from an hourly-count
    frame. Exact `percentile` ↔ DuckDB quantile_cont (the q111
    pairing); approx_percentile is the 100 TB drop-in (accuracy/cost
    measured by q201 + SCALING pctl_ab rows)."""
    counts = counts.withColumn("hod", F.hour("hour_ts"))
    med = counts.groupBy("event_type", "hod").agg(
        F.expr("percentile(n, 0.5D)").alias("med")
    )
    return (
        counts.join(F.broadcast(med), ["event_type", "hod"])
        .withColumn("adev", F.abs(F.col("n") - F.col("med")))
        .groupBy("event_type", "hod")
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(adev, 0.5D)").alias("mad"),
        )
    )


def _anomaly_score(counts: DataFrame, baseline: DataFrame) -> DataFrame:
    """Score an hourly-count frame against a (med, mad) baseline."""
    scored = counts.withColumn("hod", F.hour("hour_ts")).join(
        F.broadcast(baseline), ["event_type", "hod"]
    )
    scale = F.greatest(F.col("mad"), F.lit(ANOMALY_MAD_FLOOR))
    return scored.select(
        "event_type",
        "hour_ts",
        "n",
        "med",
        "mad",
        eround(1e-9 + (F.col("n") - F.col("med")) / scale, 4).alias("score"),
        (F.abs(F.col("n") - F.col("med")) > ANOMALY_K * scale).alias(
            "is_anomaly"
        ),
    ).orderBy("event_type", "hour_ts")


def q187_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # hours×types-bounded frame consumed three times (both baseline
    # median passes + the scoring join) — the lazy checkpoint keeps the
    # raw-event scan to ONE pass (the q152 signature-frame class)
    counts = _hour_counts(events).localCheckpoint(eager=False)
    return _anomaly_score(counts, _anomaly_baseline(counts))


def write_anomaly_baseline(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the (event_type, hod, med, mad) robust baseline — the
    fixed reference window the streaming monitor scores against."""
    counts = _hour_counts(load_table(spark, sf_dir, "events"))
    _anomaly_baseline(counts).write.mode("overwrite").parquet(path)


def anomaly_report_from(
    spark: SparkSession, counts_dir: str, baseline_dir: str
) -> DataFrame:
    """q187's table from a sink of additive per-batch partial counts +
    the persisted baseline (the streaming twin's read side)."""
    parts = spark.read.parquet(counts_dir)
    counts = parts.groupBy("event_type", "hour_ts").agg(
        F.sum("n").alias("n")
    )
    return _anomaly_score(counts, spark.read.parquet(baseline_dir))


_Q187_ORACLE = f"""
    WITH counts AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n,
             hour(date_trunc('hour', ts)) AS hod
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, hod, quantile_cont(n, 0.5) AS med
      FROM counts GROUP BY 1, 2
    ),
    dev AS (
      SELECT c.*, m.med, abs(c.n - m.med) AS adev
      FROM counts c JOIN med m USING (event_type, hod)
    ),
    mad AS (
      SELECT event_type, hod, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1, 2
    )
    SELECT d.event_type, d.hour_ts, d.n, d.med, t.mad,
           round(1e-9 + (d.n - d.med)
                 / greatest(t.mad, {ANOMALY_MAD_FLOOR}), 4) AS score,
           abs(d.n - d.med)
             > {ANOMALY_K} * greatest(t.mad, {ANOMALY_MAD_FLOOR})
             AS is_anomaly
    FROM dev d JOIN mad t USING (event_type, hod)
    ORDER BY d.event_type, d.hour_ts
"""


# --- q193: cohort retention matrix (round 11, session 2) — the
# product-analytics staple nothing in the events tier computed yet:
# users grouped by first-seen day, and for each (cohort, day-offset)
# the share still active. Complements q32/q124 (within-session
# structure) and q151 (who is a bot) with the ACROSS-days comeback
# curve. Scale shape: per-user first-day is ONE user-keyed agg over
# the stream; activity collapses to distinct (user, day) in the same
# shuffle class; the join back is user-keyed (never broadcast — users
# can be billions) and the final agg is |days|²-bounded. Integer day
# arithmetic only (date_diff on DATE values — no tz/DST knife edge);
# retention is a ratio of exact ints, eround-ed 4dp.
def user_day_activity(events: DataFrame) -> DataFrame:
    """Distinct (user_id, day) — q193's unit of state. Idempotent under
    re-union (distinct of a union of per-batch distincts == distinct of
    the whole), which is what makes the streaming twin exact."""
    return events.select("user_id", F.to_date("ts").alias("day")).distinct()


def retention_matrix(days: DataFrame) -> DataFrame:
    """q193's core over a distinct (user_id, day) frame."""
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohort_sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    active = (
        days.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        active.join(F.broadcast(cohort_sizes), "cohort_day")
        .select(
            # ISO string, not DATE: pandas renders DuckDB dates as
            # midnight timestamps, which would hash-mismatch
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "day_offset",
            "n_active",
            "cohort_size",
            eround(
                1e-9 + F.col("n_active") / F.col("cohort_size").cast("double"),
                4,
            ).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


def q193_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_matrix(user_day_activity(load_table(spark, sf_dir, "events")))


def retention_from_sink(spark: SparkSession, activity_dir: str) -> DataFrame:
    """q193's matrix from a sink of per-batch (user_id, day) partials —
    the streaming twin's read side (re-distinct, then the same core)."""
    parts = spark.read.parquet(activity_dir).select("user_id", "day")
    return retention_matrix(parts.distinct())


_Q193_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first AS (
      SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_day, count(*) AS cohort_size FROM first GROUP BY cohort_day
    ),
    active AS (
      SELECT f.cohort_day,
             date_diff('day', f.cohort_day, d.day) AS day_offset,
             count(DISTINCT d.user_id) AS n_active
      FROM days d JOIN first f USING (user_id)
      GROUP BY f.cohort_day, date_diff('day', f.cohort_day, d.day)
    )
    SELECT CAST(a.cohort_day AS VARCHAR) AS cohort_day,
           CAST(a.day_offset AS INTEGER) AS day_offset,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           round(1e-9 + a.n_active / CAST(s.cohort_size AS DOUBLE), 4)
             AS retention
    FROM active a JOIN sizes s USING (cohort_day)
    ORDER BY a.cohort_day, day_offset
"""


# --- q194: usage-concentration audit (round 11, session 2) — how
# top-heavy is each event type's traffic? Per type: exact p50/p90/p99
# of per-user event counts and the share of events produced by users
# at-or-above the p90 cut (the "top decile" — ties included, so the
# share can exceed 10% of users; documented, deterministic). The
# number a capacity/abuse review reads next to q151's bot ranking: a
# type whose p99 user produces 100× its median user is bot- or
# whale-dominated. Window-free by design — a Gini needs a global
# per-type rank (hot-reducer at billions of users); the percentile
# formulation is one (type, user) map-side-combined shuffle + a
# |types|-key exact-percentile agg (quantile_cont-paired; the q111
# class, approx_percentile the 100 TB drop-in — measured by q201 +
# SCALING pctl_ab) + one broadcast-back
# conditional agg. Counts are ints; thresholds are interpolated
# halves (exactly representable); the >= cut has no knife edge.
def q194_usage_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    pct = per_user.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum("n").alias("n_events"),
        F.expr("percentile(n, 0.5D)").alias("p50"),
        F.expr("percentile(n, 0.9D)").alias("p90"),
        F.expr("percentile(n, 0.99D)").alias("p99"),
    )
    top = (
        per_user.join(
            F.broadcast(pct.select("event_type", "p90", "n_events")),
            "event_type",
        )
        .filter(F.col("n") >= F.col("p90"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_top_users"),
            F.sum("n").alias("top_events"),
        )
    )
    return (
        pct.join(top, "event_type")
        .select(
            "event_type",
            "n_users",
            "n_events",
            eround(1e-9 + F.col("p50"), 4).alias("p50"),
            eround(1e-9 + F.col("p90"), 4).alias("p90"),
            eround(1e-9 + F.col("p99"), 4).alias("p99"),
            "n_top_users",
            eround(
                1e-9 + F.col("top_events") / F.col("n_events").cast("double"),
                4,
            ).alias("top_share"),
        )
        .orderBy("event_type")
    )


_Q194_ORACLE = """
    WITH per_user AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events GROUP BY event_type, user_id
    ),
    pct AS (
      SELECT event_type, count(*) AS n_users, sum(n) AS n_events,
             quantile_cont(n, 0.5) AS p50,
             quantile_cont(n, 0.9) AS p90,
             quantile_cont(n, 0.99) AS p99
      FROM per_user GROUP BY event_type
    ),
    top AS (
      SELECT u.event_type, count(*) AS n_top_users, sum(u.n) AS top_events
      FROM per_user u JOIN pct p USING (event_type)
      WHERE u.n >= p.p90
      GROUP BY u.event_type
    )
    SELECT p.event_type,
           CAST(p.n_users AS BIGINT) AS n_users,
           CAST(p.n_events AS BIGINT) AS n_events,
           round(1e-9 + p.p50, 4) AS p50,
           round(1e-9 + p.p90, 4) AS p90,
           round(1e-9 + p.p99, 4) AS p99,
           CAST(t.n_top_users AS BIGINT) AS n_top_users,
           round(1e-9 + t.top_events / CAST(p.n_events AS DOUBLE), 4)
             AS top_share
    FROM pct p JOIN top t USING (event_type)
    ORDER BY p.event_type
"""


# --- q199: time-decayed activity scores (round 11, session 2) — the
# freshness weighting a behavioral sampler applies before drawing
# training events: each event contributes exp(-ln2·age_days/half_life)
# (7-day half-life), so a user's score is their activity RECENCY-
# weighted — two users with equal counts separate by when they were
# active (complements q194's volume view and q151's regularity view).
# Scale shape: the reference time is a 1-row max broadcast; the score
# is ONE map-side-combined user-keyed agg; top-20 via TakeOrdered
# (ranked_topk — never a global window). Determinism: age computed on
# integer microseconds; exp() differs across engines by ≤ ulps and
# the per-user sum by ~n·ulp — absorbed by the eround nudge (the
# q109/q121 exp/ln class); the rank key is the 4dp-rounded score with
# a user_id tiebreak.
DECAY_HALF_LIFE_DAYS = 7.0
DECAY_TOP_K = 20


def q199_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import ranked_topk

    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.max(F.unix_micros("ts")).alias("ref_us"))
    age_days = (F.col("ref_us") - F.unix_micros("ts")).cast("double") / 86400e6
    lam = math.log(2.0) / DECAY_HALF_LIFE_DAYS
    scored = (
        events.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            eround(1e-9 + F.sum(F.exp(-lam * age_days)), 4).alias("score"),
        )
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("user_id")], DECAY_TOP_K
    ).select("rk", "user_id", "n_events", "score")


def _q199_oracle() -> str:
    lam = math.log(2.0) / DECAY_HALF_LIFE_DAYS
    return f"""
    WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
    scored AS (
      SELECT user_id, count(*) AS n_events,
             round(1e-9 + sum(exp(-{lam!r} *
                   ((r.ref_us - epoch_us(ts)) / 86400e6))), 4) AS score
      FROM events CROSS JOIN ref r
      GROUP BY user_id
    )
    SELECT rk, user_id, n_events, score FROM (
      SELECT user_id, n_events, score,
             CAST(row_number() OVER (ORDER BY score DESC, user_id ASC)
                  AS INTEGER) AS rk
      FROM scored
    ) WHERE rk <= {DECAY_TOP_K}
    ORDER BY rk
"""


# --- q208: session-level association rules (round 14) — the classic
# market-basket statistics (support / confidence / lift) over
# event-type CO-OCCURRENCE within a session, the correlation audit an
# event pipeline runs to find which behaviors travel together (q185
# measures ordered adjacent transitions; q208 measures unordered
# same-session membership). Sessionization is exactly q32's 30-minute
# gap rule, so one definition serves both reports. Scale shape: the
# session window partitions by user (user-history-sized partitions),
# the distinct (session, type) frame self-joins CO-PARTITIONED on
# (user_id, session_id) — per-session fan-out is bounded by the
# event-type alphabet squared, never by session length — and the
# per-type totals broadcast. Output is alphabet²-bounded.
def q208_session_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.col("ts").cast("long") - F.lag("ts").over(w_ord).cast("long")
    ) / 60.0
    sess = events.withColumn(
        "new_session",
        F.when(gap_min.isNull() | (gap_min > 30), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    st = sess.select("user_id", "session_id", "event_type").distinct()
    n = (
        st.select("user_id", "session_id")
        .distinct()
        .agg(F.count("*").alias("n_sessions"))
    )
    ca = st.groupBy("event_type").agg(F.count("*").alias("c"))
    a = st.select(
        "user_id", "session_id", F.col("event_type").alias("type_a")
    )
    b = st.select(
        "user_id", "session_id", F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    ca_a = ca.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("c_a")
    )
    ca_b = ca.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(ca_a), "type_a")
        .join(F.broadcast(ca_b), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            eround(
                F.col("n_both") / F.col("n_sessions").cast("double"), 4
            ).alias("support"),
            eround(F.col("n_both") / F.col("c_a").cast("double"), 4).alias(
                "conf_a_to_b"
            ),
            eround(F.col("n_both") / F.col("c_b").cast("double"), 4).alias(
                "conf_b_to_a"
            ),
            eround(
                F.col("n_both")
                * F.col("n_sessions").cast("double")
                / (F.col("c_a") * F.col("c_b")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


_Q208_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR (floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))) / 60.0
                     > 30
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ), st AS (
      SELECT DISTINCT user_id, session_id, event_type FROM sess
    ),
    n AS (
      SELECT count(*) AS n_sessions
      FROM (SELECT DISTINCT user_id, session_id FROM st)
    ),
    ca AS (SELECT event_type, count(*) AS c FROM st GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM st a
      JOIN st b ON a.user_id = b.user_id
              AND a.session_id = b.session_id
              AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
           round(p.n_both / CAST(n.n_sessions AS DOUBLE), 4) AS support,
           round(p.n_both / CAST(x.c AS DOUBLE), 4) AS conf_a_to_b,
           round(p.n_both / CAST(y.c AS DOUBLE), 4) AS conf_b_to_a,
           round(p.n_both * CAST(n.n_sessions AS DOUBLE) / (x.c * y.c), 4)
             AS lift
    FROM pairs p
    JOIN ca x ON x.event_type = p.type_a
    JOIN ca y ON y.event_type = p.type_b
    CROSS JOIN n
    ORDER BY p.type_a, p.type_b
"""


# --- q211: transition predictability (round 14, wave 3) — the
# conditional entropy H(next | current) of q185's session-transition
# chain, per current event type: the single number that says whether a
# behavior's follow-up is scripted (H near 0 — bot flows, templated
# UIs) or open (H near ln of the fan-out). Normalized by ln(fan-out)
# so types with different next-alphabets compare on [0, 1];
# complements q185 (the full matrix — this is its uncertainty
# summary), q151 (per-user type entropy) and q208 (unordered
# co-occurrence). Scale shape: identical to q185 — the lag window
# partitions by user (user-history-sized partitions), transitions
# collapse to an alphabet²-bounded count frame in one map-side
# combined shuffle, and the entropy algebra (H = ln N − Σ n·ln n / N)
# runs on that tiny frame; output is alphabet-bounded.
def transition_counts(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n) of q185's gap-ruled session transitions
    — the ADDITIVE state both q211 and the streaming twin consume (the
    transition multiset of a user's event sequence is the disjoint
    union of its per-boundary-segment transitions, so partial counts
    from any batch split sum to the whole)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
        gap_s.alias("gap_s"),
    ).filter(
        F.col("from_type").isNotNull()
        & (F.col("gap_s") <= TRANSITION_GAP_MIN * 60)
    )
    return pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))


def transition_entropy_from_counts(counts: DataFrame) -> DataFrame:
    """q211's entropy algebra over a (from_type, to_type, n) frame —
    shared by the batch query and the streaming sink reader so the
    twin equals the batch by construction."""
    per_from = counts.groupBy("from_type").agg(
        F.sum("n").alias("n_out"),
        F.count("*").alias("n_next_types"),
        F.sum(F.col("n") * F.log(F.col("n").cast("double"))).alias("_snln"),
    )
    h = (
        F.log(F.col("n_out").cast("double"))
        - F.col("_snln") / F.col("n_out").cast("double")
    )
    return per_from.select(
        "from_type",
        "n_out",
        "n_next_types",
        eround(F.lit(1e-9) + h, 4).alias("h_next"),
        eround(
            F.lit(1e-9)
            + F.when(F.col("n_next_types") > 1, h / F.log(F.col("n_next_types").cast("double")))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("h_norm"),
    ).orderBy("from_type")


def q211_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return transition_entropy_from_counts(transition_counts(events))


def transition_counts_from_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Re-sum the streamed per-batch (from_type, to_type, n) partials —
    counts are additive, so the union of any batch split equals the
    whole-history frame (transition_counts_batch's contract)."""
    df = spark.read.option("basePath", out_dir).parquet(out_dir)
    return df.groupBy("from_type", "to_type").agg(F.sum("n").alias("n"))


def transition_counts_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> DataFrame:
    """One micro-batch of the q185/q211 transition chain: returns the
    batch's ADDITIVE (from_type, to_type, n) partial — its within-batch
    transitions PLUS the boundary transition from each user's carried
    last event into the batch's first — so the re-summed sink equals
    transition_counts over everything ingested
    (transition_counts_from_sink). Cross-batch state is ONE row per user
    (the latest (ts, event_id, event_type)), versioned per batch id
    under ``state_dir``: a replayed batch reads its ORIGINAL predecessor
    version and rewrites its own, so it lands identically (the
    shard_append_batch contract; a long-lived deployment compacts old
    versions). Assumes each user's events arrive in (ts, event_id)
    order ACROSS batches — the per-key ordering a partitioned log gives;
    out-of-order arrival would need watermark-delayed replay, which the
    windowed twins cover. Per-batch work is batch-sized: a lag window
    over state ∪ batch partitioned by user, one alphabet²-bounded count
    agg and one per-user max agg; nothing rescans the history."""
    import glob

    cols = ["user_id", "ts", "event_id", "event_type"]
    un = batch_df.select(*cols).withColumn("_is_state", F.lit(0))
    versions = sorted(
        v
        for v in (int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state_dir}/v=*"))
        if v < batch_id
    )
    if versions:
        prev = spark.read.parquet(f"{state_dir}/v={versions[-1]}").select(*cols)
        un = prev.withColumn("_is_state", F.lit(1)).unionByName(un)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    partial = (
        un.select(
            "_is_state",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
            gap_s.alias("gap_s"),
        )
        .filter(
            (F.col("_is_state") == 0)
            & F.col("from_type").isNotNull()
            & (F.col("gap_s") <= TRANSITION_GAP_MIN * 60)
        )
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    un.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type")).alias("m")
    ).select("user_id", "m.*").write.mode("overwrite").parquet(
        f"{state_dir}/v={batch_id}"
    )
    return partial


_Q211_ORACLE = f"""
    WITH pairs AS (
      SELECT lag(event_type) OVER w AS from_type,
             event_type AS to_type,
             floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    counts AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs
      WHERE from_type IS NOT NULL
        AND gap_s <= {TRANSITION_GAP_MIN} * 60
      GROUP BY from_type, to_type
    ),
    per_from AS (
      SELECT from_type, sum(n) AS n_out, count(*) AS n_next_types,
             sum(n * ln(CAST(n AS DOUBLE))) AS snln
      FROM counts GROUP BY from_type
    )
    SELECT from_type, CAST(n_out AS BIGINT) AS n_out,
           CAST(n_next_types AS BIGINT) AS n_next_types,
           round(1e-9 + ln(CAST(n_out AS DOUBLE))
                 - snln / CAST(n_out AS DOUBLE), 4) AS h_next,
           round(1e-9 + CASE
             WHEN n_next_types > 1 THEN
               (ln(CAST(n_out AS DOUBLE)) - snln / CAST(n_out AS DOUBLE))
               / ln(CAST(n_next_types AS DOUBLE))
             ELSE 0.0 END, 4) AS h_norm
    FROM per_from ORDER BY from_type
"""


QUERIES = {
    "q185_transition_matrix": q185_transition_matrix,
    "q208_session_assoc": q208_session_assoc,
    "q211_transition_entropy": q211_transition_entropy,
    "q187_hourly_anomalies": q187_hourly_anomalies,
    "q193_cohort_retention": q193_cohort_retention,
    "q194_usage_concentration": q194_usage_concentration,
    "q199_decayed_activity": q199_decayed_activity,
    "q177_user_erasure": q177_user_erasure,
    "q151_bot_signals": q151_bot_signals,
    "q166_event_drift": q166_event_drift,
    "q123_dense_hourly": q123_dense_hourly,
    "q124_session_sequences": q124_session_sequences,
    "q30_tumbling_hourly": q30_tumbling_hourly,
    "q36_hourly_top_event": q36_hourly_top_event,
    "q37_conversion_funnel": q37_conversion_funnel,
    "q31_sliding_hourly": q31_sliding_hourly,
    "q32_user_sessions": q32_user_sessions,
    "q33_json_prop_stats": q33_json_prop_stats,
    "q34_asof_click_error": q34_asof_click_error,
    "q35_first_event_per_user_type": q35_first_event_per_user_type,
    "q108_click_error_interval": q108_click_error_interval,
    "q92_salted_event_stats": q92_salted_event_stats,
}

ORACLES = {
    "q208_session_assoc": _Q208_ORACLE,
    "q211_transition_entropy": _Q211_ORACLE,
    "q151_bot_signals": _Q151_ORACLE,
    "q166_event_drift": _Q166_ORACLE,
    "q177_user_erasure": _Q177_ORACLE,
    "q185_transition_matrix": _Q185_ORACLE,
    "q187_hourly_anomalies": _Q187_ORACLE,
    "q193_cohort_retention": _Q193_ORACLE,
    "q194_usage_concentration": _Q194_ORACLE,
    "q199_decayed_activity": _q199_oracle(),
    "q123_dense_hourly": _Q123_ORACLE,
    "q124_session_sequences": _Q124_ORACLE,
    "q108_click_error_interval": f"""
        WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
        e AS (SELECT user_id, ts AS ets FROM events WHERE event_type = 'error'),
        pairs AS (
          SELECT c.user_id,
                 (epoch_us(e.ets) - epoch_us(c.cts)) / 1e6 AS latency_sec
          FROM c JOIN e ON e.user_id = c.user_id
                       AND e.ets > c.cts
                       AND e.ets <= c.cts + INTERVAL {INTERVAL_HOURS} HOUR
        )
        SELECT user_id, count(*) AS n_pairs,
               round(1e-9 + avg(latency_sec), 4) AS avg_latency_sec,
               round(min(latency_sec), 4) AS min_latency_sec,
               round(max(latency_sec), 4) AS max_latency_sec
        FROM pairs GROUP BY user_id ORDER BY user_id
    """,
    "q36_hourly_top_event": """
        WITH hourly AS (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                 event_type, count(*) AS n_events
          FROM events GROUP BY 1, 2
        )
        SELECT hour, event_type, n_events FROM (
          SELECT *, row_number() OVER (
            PARTITION BY hour ORDER BY n_events DESC, event_type ASC
          ) AS rk FROM hourly
        ) WHERE rk = 1 ORDER BY hour
    """,
    "q37_conversion_funnel": """
        WITH per_user AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
          FROM events GROUP BY user_id
        ),
        first_click AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN per_user u ON e.user_id = u.user_id
          WHERE e.event_type = 'click' AND e.ts > u.t_view
          GROUP BY e.user_id
        ),
        first_purchase AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN first_click c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        )
        SELECT count(*) AS n_viewers,
               CAST(sum(CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
               CAST(sum(CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
        FROM per_user u
        LEFT JOIN first_click c ON u.user_id = c.user_id
        LEFT JOIN first_purchase p ON u.user_id = p.user_id
        WHERE u.t_view IS NOT NULL
    """,
    "q30_tumbling_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    "q31_sliding_hourly": """
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               count(*) AS n_events,
               round(1e-9 + avg(value), 4) AS avg_value
        FROM (
          SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                         time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
                 value
          FROM events
        ) GROUP BY ws ORDER BY window_start
    """,
    "q32_user_sessions": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR (floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))) / 60.0 > 30
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM flagged
        ), per_session AS (
          SELECT user_id, session_id, count(*) AS n_events,
                 CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS duration_sec
          FROM sess GROUP BY user_id, session_id
        )
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(1e-9 + avg(duration_sec), 4) AS avg_session_sec,
               max(duration_sec) AS max_session_sec
        FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    "q33_json_prop_stats": """
        WITH e AS (
          SELECT event_type,
                 CAST(nullif(regexp_extract(props, '"k":\\s*(-?\\d+)', 1), '') AS INTEGER) AS k
          FROM events
        )
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
               round(1e-9 + avg(k), 4) AS avg_k,
               max(k) AS max_k
        FROM e GROUP BY event_type ORDER BY event_type
    """,
    "q34_asof_click_error": """
        SELECT c.user_id, c.event_id AS click_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS last_error_ts
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
          ON c.user_id = e.user_id AND c.ts >= e.ts
        ORDER BY c.user_id, click_id
    """,
    "q35_first_event_per_user_type": """
        SELECT user_id, event_type, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        FROM (
          SELECT user_id, event_type, event_id, ts,
                 row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
                 ) AS rn
          FROM events
        ) WHERE rn = 1 ORDER BY user_id, event_type
    """,
    "q92_salted_event_stats": """
        SELECT event_type,
               count(event_id) AS n_events,
               round(1e-9 + sum(value), 2) AS total_value,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
        FROM events GROUP BY event_type ORDER BY event_type
    """,
}
