"""Structured Streaming lifts of the batch event operators (SURVEY.md
§2.10). The reference is batch-only; these take the SAME aggregation
expressions used by operators/events.py and run them incrementally with
watermarks — the batch results double as golden outputs for the
streaming tests (run with availableNow, which drains the source then
stops, so streaming output must equal the batch answer on a static
table; windowed aggs are compared in complete mode because append only
emits windows the watermark has passed).

Late-data semantics: a 1-hour watermark bounds state; in append mode a
window only emits once the watermark passes its end — correct for files
replayed in order, and exactly what a 1000-executor continuous job needs
to keep per-key state finite.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import eround
from ..sources.tables import normalize_ts


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. The stream schema is
    taken from a batch read of the same file (file sources require an
    explicit schema), then ``ts`` is normalized to ``TimestampType`` by
    the same type-adaptive shim as the batch loader — so nanos-as-long,
    TIMESTAMP_NTZ, and plain timestamp testdata all stream identically.

    Session timezone is pinned to UTC exactly as the batch events loader
    does (``sources/tables.py``): the NTZ->timestamp cast and the
    window-edge ``date_format`` both render in session time, so an
    externally built non-UTC session (worst case a fractional-hour
    offset like +05:30) would otherwise make streaming windows diverge
    from the batch twins and the DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q30_tumbling_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q31_sliding_hourly (1h window, 30m slide —
    each event lands in two windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            eround(1e-9 + F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (F.session_window) — the streaming
    counterpart of the batch gap-and-cumsum sessionization (q32)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )


def dedup_first_events(events: DataFrame) -> DataFrame:
    """Streaming keyed dedup with bounded state — twin of q35."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def user_value_state(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per user,
    maintain (count, total value, max single value) across micro-batches
    — arbitrary state Spark's built-in aggs can't express incrementally
    (e.g. this could hold a sketch or a model). State lives per group in
    the state store; a processing-time timeout would expire idle users
    on a real continuous stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double, max_value double"
    state_schema = "n long, total double, mx double"

    def update(key, pdfs, state: GroupState):
        n, total, mx = (state.get if state.exists else (0, 0.0, float("-inf")))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            [[key[0], n, round(total, 4), mx]],
            columns=["user_id", "n_events", "total_value", "max_value"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hourly_top_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming half of the q36 twin: windowed (hour, event_type)
    counts. The top-1-per-hour ranking happens batch-side inside
    foreachBatch (see ``top1_per_hour``) — analytic window functions
    aren't supported on streaming DataFrames, so rank-over-aggregate is
    exactly the operator shape foreachBatch exists for."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
        )
    )


def top1_per_hour(df: DataFrame) -> DataFrame:
    """Batch-side ranking for the q36 twin: highest count per hour,
    event_type as the deterministic tiebreak (same as the batch q36)."""
    from pyspark.sql import Window

    w = Window.partitionBy("hour").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("hour", "event_type", "n_events")
    )


def interval_join_stream(events: DataFrame, hours: int = 6) -> DataFrame:
    """Stream-stream inner join — the streaming twin of
    q108_click_error_interval (operators/events.py). Both sides carry a
    watermark and the join predicate carries a two-sided time-range
    bound, which is exactly what lets Spark expire join state: a click
    older than (watermark + ``hours``) can never match a future error,
    so per-key buffered state stays finite on an unbounded stream.
    Emits the raw matched pairs (append mode); rank/agg over the pairs
    belongs batch-side or in foreachBatch."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("cts"))
        .withWatermark("cts", "1 hour")
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user_id"), F.col("ts").alias("ets"))
        .withWatermark("ets", "1 hour")
    )
    return clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("ets") > F.col("cts"))
        & (F.col("ets") <= F.col("cts") + F.expr(f"INTERVAL {hours} HOURS")),
    ).select("user_id", "cts", "ets")


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from a
    batch read, like ``stream_events``)."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (schema from a
    batch read, like ``stream_events``)."""
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def ivf_maintenance_stream(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of ivf_index_append: arriving vectors (the
    u16(vec_id) % IVF_BATCH_MOD == 0 slice, q189's deterministic batch
    stand-in) land in the persisted IVF index micro-batch by
    micro-batch — assignment against the FROZEN centroids only, each
    batch claiming its own idempotent lists/batch=N partition
    (replay-safe; cross-batch resends anti-joined). After the drain
    the drift report EQUALS q189's in-memory old+batch report —
    pinned by test_ivf_maintenance_stream_equals_batch. Returns the
    batch count."""
    from ..functions.xsql import expand_u16, hash_u16
    from ..operators import similarity as sim

    b = expand_u16(hash_u16("CAST(vec_id AS STRING)", "ivfbatch"), "spark")
    incoming = (
        stream_embeddings(spark, sf_dir)
        .selectExpr(
            "vec_id", "label",
            "CAST(embedding AS array<double>) AS v",
            f"({b} % {sim.IVF_BATCH_MOD} = 0) AS _new",
        )
        .filter(F.col("_new"))
        .drop("_new")
    )
    n_batches = {"n": 0}

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        sim.ivf_index_append(spark, index_dir, batch_df, batch_id)
        n_batches["n"] += 1

    q = (
        incoming.writeStream.foreachBatch(_update)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sdps_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def incremental_dedup_stream(
    spark: SparkSession, sf_dir: str, out_dir: str, index_dir: str | None = None
) -> int:
    """Streaming twin of q118: documents ARRIVE as a stream, and each
    micro-batch is near-dup-checked against the STATIC indexed corpus
    — the continuous-ingestion shape of the dedup funnel. The check
    needs full batch semantics (a groupBy(doc_id) signature build plus
    the band-index equi-join), so it runs through foreachBatch.

    The index side is built ONCE, before the stream starts: the corpus
    shingles + band signatures land as parquet via write_dedup_index
    (ADVICE r6 — the old per-batch check unioned raw index shingles
    into incremental_near_dups, recomputing the static side's minhash
    signatures every micro-batch). Each batch then runs the same
    read-the-index path as batch ingestion
    (incremental_dedup_from_index): signatures for NEW docs only,
    equi-joined against the persisted band table. Returns the number
    of micro-batches written to ``out_dir``."""
    from ..operators import dedup as ddp

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_dedup_idx_")
    ddp.write_dedup_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % ddp.INGEST_MOD == 0
    )

    def check(batch_df: DataFrame) -> DataFrame:
        return ddp.incremental_dedup_from_index(spark, index_dir, batch_df)

    return run_foreach_batch_parquet(incoming, out_dir, transform=check)


def incremental_dedup_stream_evolving(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """q118's stream with an EVOLVING index and boundary-independent
    coverage: each micro-batch is checked against everything indexed
    SO FAR (minus itself — see below) AND against its own members
    (within_batch_dups), then admitted to the index
    (dedup_index_update's idempotent batch partitions) — so a near-dup
    pair is flagged on the later doc whether the two arrive in the
    same micro-batch or different ones, the boundary nondeterminism
    the round-11 review flagged. REPLAY-CLEAN: the index probe
    anti-joins its hits against the batch's own doc_ids, so a replayed
    batch (whose partitions the index already holds) emits exactly the
    rows a no-crash run would — no self-pairs, no doubled intra-batch
    pairs (the within-batch detector owns those). With a single
    availableNow batch the landed rows equal q118 ∪
    within_batch_dups(arrivals) exactly. Returns the number of
    micro-batches."""
    from ..operators import dedup as ddp

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_dedup_idx_")
        ddp.write_dedup_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % ddp.INGEST_MOD == 0
    )

    def check_then_admit(batch_df: DataFrame, batch_id: int) -> DataFrame:
        own_ids = batch_df.select(F.col("doc_id").alias("dup_of"))
        idx_hits = ddp.incremental_dedup_from_index(
            spark, index_dir, batch_df
        ).join(own_ids, "dup_of", "anti")
        hits = (
            idx_hits.select("new_doc_id", "dup_of", "jaccard")
            .unionByName(ddp.within_batch_dups(batch_df))
            .localCheckpoint()  # materialize BEFORE the index evolves
        )
        ddp.dedup_index_update(spark, index_dir, batch_df, batch_id)
        return hits

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=check_then_admit,
        checkpoint_dir=checkpoint_dir,
    )


def pipeline_funnel_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of the q122 capstone (VERDICT r6 Next #7):
    documents ARRIVE as a stream and each micro-batch runs the whole
    prep funnel — quality gate, exact dedup, LSH near-dedup,
    decontamination, mixture, split — against the PERSISTED decision
    state written once batch-side (assembly.write_funnel_state). The
    composition this proves at 100 TB: per-batch work is per-doc
    signals + broadcast-able state joins (never a global recompute),
    and the foreachBatch parquet sink lands every batch exactly-once
    (idempotent per-batch overwrite + resumable checkpoint). Final
    split counts equal the batch capstone's g_* rows
    (test_pipeline_funnel_stream_equals_batch). Returns the number of
    micro-batches."""
    from ..operators import assembly

    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="sdps_funnel_state_")
    assembly.write_funnel_state(spark, sf_dir, state_dir)

    incoming = stream_documents(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        return assembly.funnel_apply_batch(spark, state_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def incremental_spans_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q132's ingest gate: incoming documents
    (doc_id % INGEST_MOD == 0, the same deterministic split) arrive as
    a stream and each micro-batch's 20-gram positions are checked
    against the PERSISTED distinct-gram index written once batch-side
    (dedup.write_span_index). Per-batch work is the batch's own gram
    explode + one equi-join against the index — never old×old — and
    the foreachBatch parquet sink lands exactly-once. Per-doc rows
    equal q132's (test_incremental_spans_stream_equals_batch).
    Returns the number of micro-batches."""
    from ..operators import dedup

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_span_index_")
    dedup.write_span_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % dedup.INGEST_MOD == 0
    )

    def apply(batch_df: DataFrame) -> DataFrame:
        return dedup.span_gate_batch(spark, index_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def incremental_span_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q135's longest-span admission gate: incoming
    documents (same deterministic doc_id % INGEST_MOD split) arrive as
    a stream; each micro-batch's positional grams semi-join the
    PERSISTED distinct-gram index (dedup.write_span_index — shared
    with the q132 twin) and every doc lands with its longest verbatim
    overlap + admit verdict. Per-doc rows equal q135's
    (test_incremental_span_gate_stream_equals_batch). Returns the
    number of micro-batches."""
    from ..operators import dedup

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_span_index_")
    dedup.write_span_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % dedup.INGEST_MOD == 0
    )

    def apply(batch_df: DataFrame) -> DataFrame:
        return dedup.span_gate_batch_longest(spark, index_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def incremental_span_strip_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q159's ingest STRIP (the action sibling of
    the q132/q135 twins, same persisted distinct-gram index): each
    arriving micro-batch's positions that the indexed corpus already
    owns are removed and the cleaned text lands via the exactly-once
    foreachBatch parquet sink. Per-doc rows equal q159's
    (test_incremental_span_strip_stream_equals_batch). Returns the
    number of micro-batches."""
    from ..operators import dedup

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_span_index_")
    dedup.write_span_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % dedup.INGEST_MOD == 0
    )

    def apply(batch_df: DataFrame) -> DataFrame:
        return dedup.span_strip_batch(spark, index_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def decontaminate_strip_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q160's decontamination STRIP: train documents
    arrive as a stream; each micro-batch's benchmark-overlapping
    positions (vs the persisted bench gram index — fixed state, the
    benchmark changes on release cadence, not per batch) are removed
    and the cleaned text lands via the exactly-once foreachBatch
    parquet sink. Per-doc rows equal q160's
    (test_decon_strip_stream_equals_batch). Returns the batch count."""
    from ..operators import textops

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_bench_grams_")
    textops.write_bench_gram_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("source") != textops.DECON_BENCH_SOURCE
    )

    def apply(batch_df: DataFrame) -> DataFrame:
        return textops.decon_strip_batch(spark, index_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def cluster_maintenance_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q163's incremental clustering, with EVOLVING
    state: the old slice's signatures + CC labels are persisted once
    (sketches.write_cluster_state), then each arriving micro-batch of
    new documents merges in by contraction (cluster_update_batch) and
    UPDATES the state, so bridges across batch boundaries — a batch-2
    doc connecting a batch-1 doc to an old component — resolve
    exactly. After the drain, {state_dir}/labels equals the full
    re-cluster of the union corpus label-for-label
    (test_cluster_maintenance_stream_equals_full_recompute). The sink
    lands each batch's own label rows. Returns the batch count."""
    from ..operators import dedup, sketches

    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="sdps_cluster_state_")
    sketches.write_cluster_state(spark, sf_dir, state_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % dedup.INGEST_MOD == 0
    )

    def apply(batch_df: DataFrame) -> DataFrame:
        return sketches.cluster_update_batch(spark, state_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def cluster_split_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q145's cluster-aware split: incoming documents
    are routed to train/val/test AT INGEST by a native STREAM-STATIC
    left join against the persisted cluster label index
    (sketches.write_label_index) — no foreachBatch batch-semantics
    escape needed, because the assignment is a narrow map after the
    join. Leakage-freedom carries over verbatim: the split key is the
    cluster label, so a doc arriving in ANY micro-batch lands in the
    same split as every near-dup already indexed. Per-doc rows equal
    the batch assignment (test_cluster_split_stream_equals_batch).
    Returns the number of micro-batches."""
    from ..operators import sketches

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_label_index_")
    sketches.write_label_index(spark, sf_dir, index_dir)
    labels = spark.read.parquet(index_dir)

    incoming = stream_documents(spark, sf_dir)
    asg = sketches.cluster_split_assignments(incoming, labels)
    return run_foreach_batch_parquet(
        asg, out_dir, checkpoint_dir=checkpoint_dir
    )


def drift_monitor_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    baseline_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, str]:
    """Streaming twin of q166's drift monitor: the event-type baseline
    is PERSISTED state (events.write_type_baseline — trained on a
    reference window, held fixed), each micro-batch lands only its own
    partial (day, type) counts (additive, so days split across batches
    re-aggregate exactly), and events.drift_report_from computes the
    per-day KL table from the sink — equal to the batch q166 whenever
    the baseline came from the same data
    (test_drift_monitor_stream_equals_batch). Per-batch state is the
    days×types count table — fixed-width, corpus-size-independent.
    Returns (n_micro_batches, baseline_dir) — the baseline path is
    part of the contract so a default-arg caller can hand it straight
    to events.drift_report_from (ADVICE r11: a tempdir baseline the
    caller can't find is work lost)."""
    from ..operators import events as ev

    if baseline_dir is None:
        baseline_dir = tempfile.mkdtemp(prefix="sdps_type_baseline_")
        ev.write_type_baseline(spark, sf_dir, baseline_dir)

    incoming = stream_events(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        return ev._day_type_counts(batch_df)

    n = run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )
    return n, baseline_dir


def hourly_anomaly_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    baseline_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, str]:
    """Streaming twin of q187's robust anomaly monitor: the
    (event_type, hour-of-day) median+MAD baseline is PERSISTED state
    (events.write_anomaly_baseline — trained on a reference window,
    held fixed), each micro-batch lands only its own partial
    (event_type, hour_ts) counts (additive, so hours split across
    batches re-aggregate exactly), and events.anomaly_report_from
    scores the re-aggregated counts against the baseline — equal to
    the batch q187 whenever the baseline came from the same data
    (test_hourly_anomaly_stream_equals_batch). Per-batch state is the
    hours×types count table — fixed-width, corpus-size-independent.
    Returns (n_micro_batches, baseline_dir) — the baseline path is
    part of the contract so a default-arg caller can hand it straight
    to events.anomaly_report_from (ADVICE r11: a tempdir baseline the
    caller can't find is work lost)."""
    from ..operators import events as ev

    if baseline_dir is None:
        baseline_dir = tempfile.mkdtemp(prefix="sdps_anomaly_baseline_")
        ev.write_anomaly_baseline(spark, sf_dir, baseline_dir)

    incoming = stream_events(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        return ev._hour_counts(batch_df)

    n = run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )
    return n, baseline_dir


def stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the orders parquet (schema from a batch
    read, like ``stream_events``)."""
    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )


def hist_index_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q79's histogram-quantile index: each
    micro-batch lands only its own (bucket, n) hist partial — additive,
    so rows split across batches re-sum exactly — and
    reshaping.quantiles_from_sink reads the re-summed index. The
    evolving-state pattern extended to order statistics: fixed-width
    state (≤N_BUCKETS rows per batch) regardless of corpus size.
    Returns the number of micro-batches."""
    from ..operators import reshaping as rs

    incoming = stream_orders(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        return rs.price_hist(batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def dds_sketch_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q200's mergeable quantile sketch: each
    micro-batch lands only its own (bucket, n) log-bucket partial —
    additive by the DDSketch construction, so rows split across batches
    re-sum exactly — and sketches.dds_quantiles_from_sink reads the
    re-summed sketch. Per-batch state is bounded by the VALUE RANGE
    (ln(max/min)/α buckets), not the batch size; the estimate-only
    read side is the production shape (the raw values are gone, which
    is the point of a sketch). Returns the number of micro-batches."""
    from ..operators import sketches as sk

    incoming = stream_orders(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        return sk.dds_hist(batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def token_budget_sketch_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q204's token-weighted length quantiles — the
    PACKING MONITOR (VERDICT r13 stretch #9): token-budget cutoffs
    over an arriving corpus, so the q112 packer can size bins while
    ingest runs instead of waiting for a batch sweep. Each micro-batch
    lands only its own (bucket, sum(tokens)) weighted log-bucket
    partial — dds_hist_weighted is additive exactly like dds_hist, so
    docs split across batches re-sum to the whole-corpus sketch — and
    sketches.dds_weighted_quantiles_from_sink reads the re-summed
    state (estimate-only: the per-doc lengths are gone by read time,
    which is the point). Per-batch state is bounded by the LENGTH
    RANGE (ln(max/min)/α buckets), not the batch size. Returns the
    number of micro-batches."""
    from ..operators import sketches as sk
    from ..operators.textops import _tokens

    incoming = stream_documents(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        per_doc = batch_df.select(
            F.size(_tokens(F.col("text"))).alias("x")
        ).withColumn("w", F.col("x"))
        return sk.dds_hist_weighted(per_doc, "x", "w")

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def cohort_retention_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q193: each micro-batch lands only its own
    distinct (user_id, day) activity rows, and events.retention_from_sink
    re-distincts the union and computes the matrix — EXACT because
    distinct-of-union-of-distincts equals distinct-of-the-whole (no
    count is split across batches the way an additive sum would be; a
    user's first-seen day is a min over the re-unioned state, so batch
    boundaries can't move cohorts). Per-batch state is the batch's own
    users×days frame. Returns the number of micro-batches."""
    from ..operators import events as ev

    incoming = stream_events(spark, sf_dir)

    def apply(batch_df: DataFrame) -> DataFrame:
        return ev.user_day_activity(batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def stream_events_files(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a DIRECTORY of event parquet slices
    (one micro-batch per file via maxFilesPerTrigger=1) — the
    multi-batch harness for twins whose cross-batch state must
    actually be exercised (a single events.parquet drains in one
    batch, which never touches the boundary path). Schema/timezone
    handling matches stream_events."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.option("recursiveFileLookup", "true").parquet(
        src_dir
    ).schema
    raw = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return normalize_ts(raw)


def transition_counts_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    state_dir: str,
    incoming: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q185/q211's transition chain: each micro-batch
    lands its own ADDITIVE (from_type, to_type, n) partial — its
    within-batch transitions PLUS the boundary transition from each
    user's carried last event into the batch's first — so the re-summed
    sink equals the batch transition_counts over everything ingested
    (events.transition_counts_from_sink; entropy/matrix readers derive
    from that frame). Cross-batch state is ONE row per user (the
    latest (ts, event_id, event_type)), versioned per batch id under
    ``state_dir`` so a replayed batch reads its ORIGINAL predecessor
    state and the per-batch-id overwrite stays idempotent
    (exactly-once under the q118 evolving-state contract; a long-lived
    deployment compacts old versions). Assumes each user's events
    arrive in (ts, event_id) order ACROSS batches — the per-key
    ordering a partitioned log gives; out-of-order arrival would need
    watermark-delayed replay, which the windowed twins cover.
    Scale shape: per-batch work is batch-sized (lag window over
    state∪batch partitioned by user, one alphabet²-bounded count agg,
    one per-user max agg); nothing rescans the history."""
    from ..operators import events as ev

    if incoming is None:
        incoming = stream_events_files(spark, src_dir)
    n_batches = {"n": 0}

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        import glob as _glob

        versions = sorted(
            int(p.rsplit("=", 1)[1])
            for p in _glob.glob(f"{state_dir}/v=*")
            if int(p.rsplit("=", 1)[1]) < batch_id
        )
        cols = ["user_id", "ts", "event_id", "event_type"]
        batch = batch_df.select(*cols).withColumn("_is_state", F.lit(0))
        if versions:
            prev = (
                spark.read.parquet(f"{state_dir}/v={versions[-1]}")
                .select(*cols)
                .withColumn("_is_state", F.lit(1))
            )
            un = prev.unionByName(batch)
        else:
            un = batch
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        lagged = un.select(
            "user_id",
            "_is_state",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
            (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
            ).alias("gap_s"),
        )
        partial = (
            lagged.filter(
                (F.col("_is_state") == 0)
                & F.col("from_type").isNotNull()
                & (F.col("gap_s") <= ev.TRANSITION_GAP_MIN * 60)
            )
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n"))
        )
        partial.write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )
        new_state = (
            un.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
            .select(
                "user_id",
                F.col("m.ts").alias("ts"),
                F.col("m.event_id").alias("event_id"),
                F.col("m.event_type").alias("event_type"),
            )
        )
        new_state.write.mode("overwrite").parquet(
            f"{state_dir}/v={batch_id}"
        )
        n_batches["n"] += 1

    q = (
        incoming.writeStream.foreachBatch(_update)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sdps_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def bm25_retrieval_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    index_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q171's ingest-time retrieval: incoming
    documents (doc_id % BM25_QUERY_MOD == 0, q164's deterministic
    query slice) arrive as a stream and every micro-batch retrieves
    its top-k against the PERSISTED BM25 index
    (textops.write_bm25_index — built once batch-side). Per-batch
    work is the batch's own tokenize + the df-capped posting join;
    the exactly-once foreachBatch sink lands per-query rows equal to
    the batch q164/q171 (test_bm25_retrieval_stream_equals_batch).
    Returns the number of micro-batches."""
    from ..operators import textops as tx

    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="sdps_bm25_index_")
        tx.write_bm25_index(spark, sf_dir, index_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % tx.BM25_QUERY_MOD == 0
    )

    def apply(batch_df: DataFrame) -> DataFrame:
        return tx.bm25_from_index(spark, index_dir, batch_df)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def quality_score_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    model_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of the q179 classifier's SERVE path: the model
    is persisted fixed state (classifier.write_quality_model — fit
    batch-side on the bounded labeled export, k+1 doubles of JSON),
    and every micro-batch of incoming documents is scored by the pure
    expression projection (quality_features → score_expr) — per-batch
    work is a narrow no-shuffle select, the cheapest per-batch shape
    in the repo. Exactly-once foreachBatch sink; stream == batch
    pinned by test_quality_score_stream_equals_batch. Returns the
    number of micro-batches."""
    from ..functions import classifier as clf
    from ..operators.textops import quality_features

    if model_path is None:
        model_path = os.path.join(
            tempfile.mkdtemp(prefix="sdps_qclf_"), "model.json"
        )
        clf.write_quality_model(spark, sf_dir, model_path)
    model = clf.load_model(model_path)

    def apply(batch_df: DataFrame) -> DataFrame:
        return clf.predict_labels(quality_features(batch_df), model).select(
            "doc_id", "quality_prob", "predicted"
        )

    incoming = stream_documents(spark, sf_dir)
    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def shard_append_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of q183's incremental shard append, with
    EVOLVING state (the q163 cluster-maintenance pattern applied to
    assembly): the persisted lake offset (`write_shard_state`) tells
    each micro-batch which fresh shard index to pack from;
    `shard_append_batch` packs the batch, lands its manifest rows
    exactly-once (batch-id-keyed overwrite), and advances the offset
    via a batch-id-keyed state snapshot so replays are idempotent.
    Published shards are never re-packed — across ANY batch split the
    old-side rows are byte-identical, and the single-batch drain
    equals q183's is_new rows exactly (test). Returns the number of
    micro-batches."""
    from ..operators import assembly as asm
    from ..operators.dedup import INGEST_MOD

    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="sdps_shard_state_")
        asm.write_shard_state(spark, sf_dir, state_dir)

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_MOD == 0
    )

    def apply(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return asm.shard_append_batch(spark, state_dir, batch_df, batch_id)

    return run_foreach_batch_parquet(
        incoming, out_dir, transform=apply, checkpoint_dir=checkpoint_dir
    )


def bm25_index_maintenance_stream(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Streaming twin of bm25_index_update: arriving documents land in
    the persisted BM25 index micro-batch by micro-batch (the q163
    evolving-state pattern for retrieval). Each batch appends only its
    own tf/dlen rows (replay-safe via the anti-join on indexed
    doc_ids) and merges dfreq/stats; after the drain the index EQUALS
    a from-scratch rebuild over everything ingested — pinned by
    test_bm25_index_maintenance_stream. Returns the batch count."""
    from ..operators import textops as tx
    from ..operators.dedup import INGEST_MOD

    incoming = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_MOD == 0
    )
    n_batches = {"n": 0}

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        tx.bm25_index_update(spark, index_dir, batch_df, batch_id)
        n_batches["n"] += 1

    q = (
        incoming.writeStream.foreachBatch(_update)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sdps_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def run_foreach_batch_parquet(
    df: DataFrame,
    out_dir: str,
    mode: str = "append",
    transform=None,
    checkpoint_dir: str | None = None,
) -> int:
    """foreachBatch sink: each micro-batch lands as parquet under its
    batch id — the pattern for sinks Spark lacks natively (upserts into
    table formats, JDBC merges...). ``transform`` (batch DataFrame →
    batch DataFrame) runs with full batch semantics before the write —
    window functions, ranks, joins the streaming engine won't take.
    Returns the number of batches.

    Exactly-once: the per-batch overwrite keyed on ``batch_id`` makes
    the sink idempotent, and a caller-supplied ``checkpoint_dir`` makes
    restarts RESUME — a rerun over the same checkpoint with no new
    source files processes zero batches (pinned by
    test_checkpoint_resume_is_exactly_once).

    ``transform`` may take (batch_df) or (batch_df, batch_id) — the
    two-arg form serves evolving-state appliers (shard_append_stream)
    whose per-batch work must be keyed by the batch id."""
    import inspect

    n_batches = {"n": 0}
    takes_batch_id = (
        transform is not None
        and len(inspect.signature(transform).parameters) >= 2
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = (
                transform(batch_df, batch_id)
                if takes_batch_id
                else transform(batch_df)
            )
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        n_batches["n"] += 1

    q = (
        df.writeStream.foreachBatch(_write)
        .outputMode(mode)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sdps_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def run_available_now(df: DataFrame, mode: str = "append") -> DataFrame:
    """Drain the stream with the availableNow trigger into a memory
    sink; returns the sink table. For batch-equivalence tests."""
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sdps_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)
