"""Structured Streaming lifts of the batch operators (SURVEY.md §2.10).
The reference is batch-only; these run the SAME expressions the batch
operators use, incrementally, so the batch results double as golden
outputs for the streaming tests (drained with availableNow, which
empties the source then stops, so streaming output must equal the batch
answer on a static table; windowed aggs are compared in complete mode
because append only emits windows the watermark has passed).

Two kinds live here:

- in-engine stream operators (windowed counts, keyed dedup, custom
  per-key state, the stream-stream interval join), which Spark runs
  incrementally. Late-data semantics: a 1-hour watermark bounds state;
  in append mode a window only emits once the watermark passes its end
  — correct for files replayed in order, and what a 1000-executor
  continuous job needs to keep per-key state finite.
- ``TWINS``, the foreachBatch twins of batch queries. A twin is one row
  of four parts: a file-source stream, an optional arrival filter, a
  persisted-state writer, and a batch function from ``operators/`` that
  each micro-batch runs with full batch semantics against that state.
  ``run_twin`` drains a row; each row's stream-equals-batch test lives
  in tests/test_streaming.py.
"""

from __future__ import annotations

import tempfile
import uuid
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import classifier as clf
from ..functions.grams import tokens
from ..functions.rounding import eround
from ..functions.xsql import expand_u16, hash_u16
from ..operators import assembly as asm
from ..operators import dedup as dd
from ..operators import events as ev
from ..operators import reshaping as rs
from ..operators import similarity as sim
from ..operators import sketches as sk
from ..operators import textops as tx
from ..sources.tables import load_table, normalize_ts


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over ``{sf_dir}/{table}.parquet``. File
    sources need an explicit schema; it comes from a batch read of the
    same file."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _slices(spark: SparkSession, src_dir: str) -> DataFrame:
    schema = spark.read.option("recursiveFileLookup", "true").parquet(
        src_dir
    ).schema
    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _event_stream(spark: SparkSession, read, src_dir: str, *args) -> DataFrame:
    """``read(spark, src_dir, *args)`` with ``ts`` normalized to
    ``TimestampType`` by the batch loader's type-adaptive shim, so
    nanos-as-long, TIMESTAMP_NTZ and plain timestamp testdata all stream
    identically.

    The session timezone is pinned to UTC, before the schema read, just
    as the batch events loader does (``sources/tables.py``): the
    NTZ->timestamp cast and the window-edge ``date_format`` both render
    in session time, so an externally built non-UTC session (worst case
    a fractional-hour offset like +05:30) would otherwise make streaming
    windows diverge from the batch twins and the DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_ts(read(spark, src_dir, *args))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (``_event_stream``)."""
    return _event_stream(spark, stream_table, sf_dir, "events")


def stream_events_files(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a DIRECTORY of event parquet slices, one
    micro-batch per file (maxFilesPerTrigger=1) — the multi-batch
    harness for twins whose cross-batch state must actually be
    exercised (a single events.parquet drains in one batch, which never
    touches the boundary path)."""
    return _event_stream(spark, _slices, src_dir)


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


@dataclass(frozen=True)
class Twin:
    """One foreachBatch twin. ``source(spark, src_dir)`` is the stream
    and the rows passing the SQL predicate ``keep`` are the arrivals.
    ``state(spark, src_dir, state_dir)`` persists the state built
    batch-side. ``apply(spark, state_dir, batch_df, batch_id)`` runs on
    every micro-batch and returns the rows the sink lands, or None when
    the batch only updates the state."""

    source: Callable[[SparkSession, str], DataFrame]
    apply: Callable[[SparkSession, str, DataFrame, int], DataFrame | None]
    state: Callable[[SparkSession, str, str], object] | None = None
    keep: str | None = None


def _rows(fn):
    """A per-batch function of the batch rows alone, as a twin's apply."""
    return lambda spark, state_dir, batch_df, batch_id: fn(batch_df)


def _against(fn):
    """A ``(spark, state_dir, batch_df)`` function as a twin's apply."""
    return lambda spark, state_dir, batch_df, batch_id: fn(
        spark, state_dir, batch_df
    )


_VECTOR_COLS = ("vec_id", "label", "CAST(embedding AS array<double>) AS v")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_table(spark, sf_dir, "embeddings").selectExpr(*_VECTOR_COLS)


def _token_budget(batch_df: DataFrame) -> DataFrame:
    n = F.size(tokens(F.col("text")))
    return sk.dds_hist_weighted(
        batch_df.select(n.alias("x"), n.alias("w")), "x", "w"
    )


def _fit_model(spark: SparkSession, sf_dir: str, state_dir: str) -> None:
    clf.write_quality_model(spark, sf_dir, f"{state_dir}/model.json")


def _score(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> DataFrame:
    model = clf.load_model(f"{state_dir}/model.json")
    return clf.predict_labels(tx.quality_features(batch_df), model).select(
        "doc_id", "quality_prob", "predicted"
    )


_DOCS = partial(stream_table, table="documents")
_ORDERS = partial(stream_table, table="orders")
# q118's deterministic arrival slice; the state writers index the rest
_ARRIVED = f"doc_id % {dd.INGEST_MOD} = 0"
_IVF_ARRIVED = (
    expand_u16(hash_u16("CAST(vec_id AS STRING)", "ivfbatch"), "spark")
    + f" % {sim.IVF_BATCH_MOD} = 0"
)


def _ivf_base(spark: SparkSession, sf_dir: str, state_dir: str) -> None:
    """The IVF index over the vectors outside the arrival slice."""
    sim.write_ivf_index(
        load_table(spark, sf_dir, "embeddings")
        .selectExpr(*_VECTOR_COLS)
        .filter(f"NOT ({_IVF_ARRIVED})"),
        state_dir,
    )


def _bm25_base(spark: SparkSession, sf_dir: str, state_dir: str) -> None:
    """The BM25 index over the documents outside the arrival slice."""
    tx.write_bm25_index_frame(
        spark,
        load_table(spark, sf_dir, "documents").filter(f"NOT ({_ARRIVED})"),
        state_dir,
    )


TWINS: dict[str, Twin] = {
    # q118: arrivals checked against the static persisted dedup index
    "incremental_dedup": Twin(
        _DOCS, _against(dd.incremental_dedup_from_index),
        dd.write_dedup_index, _ARRIVED,
    ),
    # q118 with an evolving index: check, then admit (boundary-free)
    "evolving_dedup": Twin(
        _DOCS, dd.evolving_dedup_batch, dd.write_dedup_index, _ARRIVED
    ),
    # q122: the whole prep funnel against the persisted decision state
    "pipeline_funnel": Twin(
        _DOCS, _against(asm.funnel_apply_batch), asm.write_funnel_state
    ),
    # q132 / q135 / q159: gram positions vs the distinct-gram index
    "incremental_spans": Twin(
        _DOCS, _against(dd.span_gate_batch), dd.write_span_index, _ARRIVED
    ),
    "incremental_span_gate": Twin(
        _DOCS, _against(dd.span_gate_batch_longest), dd.write_span_index,
        _ARRIVED,
    ),
    "incremental_span_strip": Twin(
        _DOCS, _against(dd.span_strip_batch), dd.write_span_index, _ARRIVED
    ),
    # q160: train documents stripped against the benchmark gram index
    "decon_strip": Twin(
        _DOCS, _against(tx.decon_strip_batch), tx.write_bench_gram_index,
        f"source != '{tx.DECON_BENCH_SOURCE}'",
    ),
    # q163: arrivals merge into EVOLVING signatures + labels; afterwards
    # {state_dir}/labels equals the full re-cluster of the union
    "cluster_maintenance": Twin(
        _DOCS, _against(sk.cluster_update_batch), sk.write_cluster_state,
        _ARRIVED,
    ),
    # q145: train/val/test routing by the persisted cluster labels
    "cluster_split": Twin(
        _DOCS,
        lambda spark, state_dir, batch_df, batch_id: (
            sk.cluster_split_assignments(batch_df, spark.read.parquet(state_dir))
        ),
        sk.write_label_index,
    ),
    # q166 / q187: additive per-batch counts; the *_report_from readers
    # score the re-aggregated sink against the persisted baseline
    "drift_monitor": Twin(
        stream_events, _rows(ev._day_type_counts), ev.write_type_baseline
    ),
    "hourly_anomaly": Twin(
        stream_events, _rows(ev._hour_counts), ev.write_anomaly_baseline
    ),
    # q193: per-batch distinct (user, day); re-distinct of the union is
    # exact (events.retention_from_sink)
    "cohort_retention": Twin(stream_events, _rows(ev.user_day_activity)),
    # q185 / q211: additive transition partials; the state carries each
    # user's last event across batches, one version per batch id
    "transition": Twin(stream_events_files, ev.transition_counts_batch),
    # q79 / q200 / q204: additive bucket partials, re-summed on read
    "hist_index": Twin(_ORDERS, _rows(rs.price_hist)),
    "dds_sketch": Twin(_ORDERS, _rows(sk.dds_hist)),
    "token_budget_sketch": Twin(_DOCS, _rows(_token_budget)),
    # q164 / q171: each query doc's top-k against the persisted index
    "bm25_retrieval": Twin(
        _DOCS, _against(tx.bm25_from_index), tx.write_bm25_index,
        f"doc_id % {tx.BM25_QUERY_MOD} = 0",
    ),
    # q179's serve path: a narrow projection with the persisted model
    "quality_score": Twin(_DOCS, _score, _fit_model),
    # q183: pack from the persisted lake offset, advanced per batch id
    "shard_append": Twin(
        _DOCS, asm.shard_append_batch, asm.write_shard_state, _ARRIVED
    ),
    # index maintenance: arrivals land in the index of the rest (bm25's
    # and q189's IVF); the sink lands nothing, the index is the output
    "bm25_index_maintenance": Twin(
        _DOCS, tx.bm25_index_update, _bm25_base, _ARRIVED
    ),
    "ivf_maintenance": Twin(
        _vectors, sim.ivf_index_append, _ivf_base, _IVF_ARRIVED
    ),
}


def run_twin(
    name: str,
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, str]:
    """Drain ``TWINS[name]`` over ``src_dir`` into ``out_dir``. A
    ``state_dir`` the caller passes is used as it is; without one the
    twin's state is built into a fresh temporary directory. Returns
    (micro-batches run, state_dir)."""
    twin = TWINS[name]
    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix=f"sdps_{name}_")
        if twin.state is not None:
            twin.state(spark, src_dir, state_dir)
    arrivals = twin.source(spark, src_dir)
    if twin.keep is not None:
        arrivals = arrivals.filter(twin.keep)
    n = _drain(
        arrivals, out_dir,
        lambda batch_df, batch_id: twin.apply(
            spark, state_dir, batch_df, batch_id
        ),
        checkpoint_dir=checkpoint_dir,
    )
    return n, state_dir


def _drain(
    df: DataFrame,
    out_dir: str,
    batch,
    mode: str = "append",
    checkpoint_dir: str | None = None,
) -> int:
    """Run ``batch(batch_df, batch_id)`` on every micro-batch of ``df``
    until the source is drained (availableNow) and land the rows it
    returns as parquet under ``{out_dir}/batch={batch_id}``. Returns
    the number of batches.

    Exactly-once: the per-batch overwrite keyed on ``batch_id`` makes
    the sink idempotent, and a caller-supplied ``checkpoint_dir`` makes
    restarts RESUME — a rerun over the same checkpoint with no new
    source files processes zero batches (pinned by
    test_checkpoint_resume_is_exactly_once)."""
    n_batches = 0

    def each(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        rows = batch(batch_df, batch_id)
        if rows is not None:
            rows.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        n_batches += 1

    q = (
        df.writeStream.foreachBatch(each)
        .outputMode(mode)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sdps_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches


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
    Returns the number of batches; exactly-once as ``_drain``."""
    return _drain(
        df, out_dir,
        lambda batch_df, batch_id: transform(batch_df) if transform else batch_df,
        mode, checkpoint_dir,
    )


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
