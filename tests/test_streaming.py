"""Structured Streaming smoke + batch-equivalence tests: the streaming
jobs drained with availableNow must reproduce the batch operators'
answers on the static events table (SURVEY.md §2.10)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from synthetic_data_pipeline_spark.operators.dedup import (
    q132_incremental_spans,
    q135_incremental_span_gate,
    q159_incremental_span_strip,
)
from synthetic_data_pipeline_spark.operators.events import (
    q30_tumbling_hourly,
    q31_sliding_hourly,
    q35_first_event_per_user_type,
)
from synthetic_data_pipeline_spark.operators.textops import (
    q160_decontaminate_strip,
)
from synthetic_data_pipeline_spark.streaming.jobs import (
    TWINS,
    dedup_first_events,
    run_available_now,
    run_twin,
    session_counts,
    sliding_counts,
    stream_events,
    tumbling_counts,
)


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = tumbling_counts(stream_events(spark, sf_dir))
    got = run_available_now(stream, mode="complete").collect()
    want = q30_tumbling_hourly(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_sliding_stream_equals_batch(spark, sf_dir):
    stream = sliding_counts(stream_events(spark, sf_dir))
    got = run_available_now(stream, mode="complete").collect()
    want = q31_sliding_hourly(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_tumbling_stream_session_tz_independent(spark, sf_dir):
    """stream_events pins the session tz to UTC the way the batch
    events loader does: under a hostile externally built session tz
    (fractional-hour offsets shift window edges AND their rendered
    labels) the streaming windows must still equal the batch twin."""
    want = sorted(map(tuple, q30_tumbling_hourly(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")  # +05:30
    try:
        stream = tumbling_counts(stream_events(spark, sf_dir))
        got = run_available_now(stream, mode="complete").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert sorted(map(tuple, got)) == want


def test_interval_join_stream_equals_batch(spark, sf_dir):
    """Stream-stream inner join (watermarks both sides + time-range
    predicate) must reproduce the batch interval join's per-user pair
    counts when drained with availableNow."""
    from synthetic_data_pipeline_spark.operators.events import (
        q108_click_error_interval,
    )
    from synthetic_data_pipeline_spark.streaming.jobs import interval_join_stream

    pairs = run_available_now(
        interval_join_stream(stream_events(spark, sf_dir)), mode="append"
    )
    got = sorted(
        (r.user_id, r.n) for r in
        pairs.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    )
    want = sorted(
        (r.user_id, r.n_pairs)
        for r in q108_click_error_interval(spark, sf_dir).collect()
    )
    assert got == want


def test_session_stream_runs(spark, sf_dir):
    stream = session_counts(stream_events(spark, sf_dir))
    got = run_available_now(stream, mode="complete")
    assert got.count() > 0
    # every (user, session) holds at least one event
    assert got.filter("n_events < 1").count() == 0


def test_session_stream_equals_batch(spark, sf_dir):
    """F.session_window (stream) vs the batch gap-and-cumsum
    sessionization (q32) must agree on per-user session structure.
    Both use a 30-minute inactivity gap; q32's strict `gap > 30min`
    differs from session_window's half-open [ts, ts+gap) only for gaps
    of exactly 1800.000000s, which the microsecond-resolution testdata
    never produces. Durations aren't compared — session_window's end is
    last_ts+gap by definition, not last_ts."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.events import q32_user_sessions

    stream = session_counts(stream_events(spark, sf_dir))
    got = (
        run_available_now(stream, mode="complete")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    g = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}
    w = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q32_user_sessions(spark, sf_dir).collect()
    }
    assert g == w


def test_stateful_operator_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.sources.tables import load_table
    from synthetic_data_pipeline_spark.streaming.jobs import user_value_state

    got = run_available_now(
        user_value_state(stream_events(spark, sf_dir)), mode="update"
    )
    # update mode may emit one row per micro-batch per user; the LAST
    # emission carries the final state — with availableNow over one file
    # there is a single batch, so rows are final.
    final = {r.user_id: r for r in got.collect()}
    want = {
        r.user_id: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for uid, w in want.items():
        g = final[uid]
        assert g.n_events == w.n_events
        assert abs(g.total_value - w.total_value) < 1e-6
        assert g.max_value == w.max_value


def test_dedup_stream_matches_batch_count(spark, sf_dir):
    stream = dedup_first_events(stream_events(spark, sf_dir))
    got = run_available_now(stream, mode="append")
    want = q35_first_event_per_user_type(spark, sf_dir)
    assert got.count() == want.count()
    # same (user_id, event_type) key set survives
    g = {(r.user_id, r.event_type) for r in got.collect()}
    w = {(r.user_id, r.event_type) for r in want.collect()}
    assert g == w


def test_hourly_top_event_stream_equals_batch(spark, sf_dir, tmp_path):
    """q36's streaming twin: windowed counts maintained by the stream,
    top-1-per-hour ranked batch-side in foreachBatch. The final
    complete-mode batch must equal the batch q36 exactly — closes the
    last batch-only gap in the events tier."""
    import glob

    from synthetic_data_pipeline_spark.operators.events import (
        q36_hourly_top_event,
    )
    from synthetic_data_pipeline_spark.streaming.jobs import (
        hourly_top_counts,
        run_foreach_batch_parquet,
        top1_per_hour,
    )

    out = str(tmp_path / "top1")
    n = run_foreach_batch_parquet(
        hourly_top_counts(stream_events(spark, sf_dir)),
        out,
        mode="complete",
        transform=top1_per_hour,
    )
    assert n >= 1
    last = max(
        glob.glob(f"{out}/batch=*"), key=lambda p: int(p.rsplit("=", 1)[1])
    )
    got = spark.read.parquet(last).collect()
    want = q36_hourly_top_event(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    from synthetic_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch_parquet,
    )

    out = str(tmp_path / "sink")
    n = run_foreach_batch_parquet(stream_events(spark, sf_dir), out)
    assert n >= 1
    back = spark.read.option("basePath", out).parquet(out)
    want = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == want


def test_incremental_dedup_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streamed ingestion dedup (q118's twin): the union of all
    micro-batch outputs equals the batch q118 answer."""
    import glob

    from synthetic_data_pipeline_spark.operators.dedup import (
        q118_incremental_dedup,
    )

    out = str(tmp_path / "incr")
    n, _ = run_twin("incremental_dedup", spark, sf_dir, out)
    assert n >= 1
    got = sorted(
        map(tuple, spark.read.option("basePath", out).parquet(out)
            .select("new_doc_id", "dup_of", "jaccard").collect())
    )
    want = sorted(map(tuple, q118_incremental_dedup(spark, sf_dir).collect()))
    assert got == want


def test_checkpoint_resume_is_exactly_once(spark, sf_dir, tmp_path):
    """Restart semantics: a second availableNow run over the SAME
    checkpoint with no new source files must process zero batches —
    the committed offsets make replay a no-op, and the batch-id-keyed
    overwrite sink stays idempotent either way."""
    from synthetic_data_pipeline_spark.streaming.jobs import (
        run_foreach_batch_parquet,
        stream_events,
    )

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    n1 = run_foreach_batch_parquet(
        stream_events(spark, sf_dir), out, checkpoint_dir=ckpt
    )
    assert n1 >= 1
    rows_after_first = spark.read.option("basePath", out).parquet(out).count()
    n2 = run_foreach_batch_parquet(
        stream_events(spark, sf_dir), out, checkpoint_dir=ckpt
    )
    assert n2 == 0
    rows_after_second = spark.read.option("basePath", out).parquet(out).count()
    assert rows_after_second == rows_after_first


def test_pipeline_funnel_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streaming capstone (q122's twin): funnel survivors landed by
    the foreachBatch sink must reproduce the batch capstone's final
    split accounting exactly — per-split doc counts AND token sums —
    because every cross-doc decision comes from the persisted state,
    not the batch slicing."""
    from synthetic_data_pipeline_spark.operators.assembly import (
        q122_pipeline_funnel,
    )

    out = str(tmp_path / "funnel")
    n, _ = run_twin("pipeline_funnel", spark, sf_dir, out)
    assert n >= 1
    got = {
        r.split: (r.n_docs, r.n_tokens)
        for r in spark.read.option("basePath", out).parquet(out)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .collect()
    }
    want = {
        r.stage.removeprefix("g_"): (r.n_docs, r.n_tokens)
        for r in q122_pipeline_funnel(spark, sf_dir).collect()
        if r.stage.startswith("g_")
    }
    # empty splits appear as zero rows in the batch reckoning and as
    # no rows in the sink — compare on the non-empty ones, and assert
    # nothing non-empty is missing from either side
    assert got == {k: v for k, v in want.items() if v[0] > 0}
    assert sum(v[0] for v in got.values()) == sum(v[0] for v in want.values())


# Twins whose per-doc sink rows equal their batch query's rows on the
# named columns: the q132/q135/q159 gates against the persisted
# distinct-gram index and q160's strip against the bench gram index.
SINK_ROWS = {
    "incremental_spans": (
        q132_incremental_spans, ("source", "n_pos", "n_dup", "dup_share")
    ),
    "incremental_span_gate": (
        q135_incremental_span_gate,
        ("source", "n_pos", "n_dup", "longest_span_words", "admit"),
    ),
    "incremental_span_strip": (
        q159_incremental_span_strip,
        ("source", "tokens_before", "tokens_removed", "clean_text"),
    ),
    "decon_strip": (
        q160_decontaminate_strip,
        ("source", "tokens_before", "tokens_removed", "clean_text"),
    ),
}


@pytest.mark.parametrize("twin", sorted(SINK_ROWS))
def test_twin_sink_equals_batch(spark, sf_dir, tmp_path, twin):
    """Per-doc rows landed by the foreachBatch sink must equal the batch
    query's rows exactly (clean_text strings included): the gram index
    is persisted state and every answer is computed per doc, so batch
    boundaries can't change any answer or what gets stripped."""
    batch, cols = SINK_ROWS[twin]
    out = str(tmp_path / "sink")
    n, _ = run_twin(twin, spark, sf_dir, out)
    assert n >= 1
    got = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    want = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in batch(spark, sf_dir).collect()
    }
    assert got == want
    assert len(want) > 0


def test_every_twin_has_a_stream_equals_batch_test():
    """A TWINS row without a stream-equals-batch test fails here: the
    parametrized ids plus the twins that own a ``test_<twin>_stream…``
    test must be exactly the table."""
    custom = {
        name for name in TWINS
        if any(t.startswith(f"test_{name}_stream") for t in globals())
    }
    assert sorted(set(SINK_ROWS) | custom) == sorted(TWINS)


def test_run_twin_state_rule(spark, sf_dir, tmp_path):
    """run_twin uses a state directory the caller passes as it is (a
    sentinel placed in it survives the drain) and builds state only into
    a fresh directory of its own, which it returns."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        write_label_index,
    )

    state = tmp_path / "labels"
    write_label_index(spark, sf_dir, str(state))
    (state / "_sentinel").write_text("caller-built")
    n, used = run_twin(
        "cluster_split", spark, sf_dir, str(tmp_path / "a"),
        state_dir=str(state),
    )
    assert n >= 1 and used == str(state)
    assert (state / "_sentinel").read_text() == "caller-built"
    n, built = run_twin("cluster_split", spark, sf_dir, str(tmp_path / "b"))
    assert n >= 1 and built != str(state) and os.listdir(built)


def test_cluster_maintenance_stream_equals_full_recompute(
    spark, sf_dir, tmp_path
):
    """The q163 streaming twin with EVOLVING state: after draining the
    new-doc stream in micro-batches (each batch merging into the
    persisted signatures + labels), the final state labels must equal
    the full re-cluster of the union corpus label-for-label — batch
    boundaries, including bridges ACROSS batches, cannot change any
    cluster assignment."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures_from_tokens,
        token_state,
    )
    from synthetic_data_pipeline_spark.operators.sketches import (
        cc_star_labels,
    )

    out = str(tmp_path / "labels_out")
    n, state = run_twin("cluster_maintenance", spark, sf_dir, out)
    assert n >= 1
    got = sorted(
        map(tuple, spark.read.parquet(f"{state}/labels").collect())
    )
    full_sig = minhash_signatures_from_tokens(token_state(spark, sf_dir))
    want = sorted(
        map(tuple, cc_star_labels(lsh_candidates(full_sig)).collect())
    )
    assert got == want
    assert len(want) > 0
    # the sink carries each batch's own rows AS OF ITS BATCH — a later
    # bridge may have lowered a label since, so only the NODE set is
    # stable: every clustered streamed doc was reported exactly once
    from synthetic_data_pipeline_spark.operators.dedup import INGEST_MOD

    sunk_nodes = sorted(
        r.node
        for r in spark.read.option("basePath", out).parquet(out)
        .select("node").collect()
    )
    new_final_nodes = sorted(
        t[0] for t in got if t[0] % INGEST_MOD == 0
    )
    assert sunk_nodes == new_final_nodes


def test_cluster_split_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q145 streaming twin: per-doc split assignments landed by the
    per-batch label join must equal the batch assignment exactly —
    the split key is the persisted cluster label (or the doc's own id),
    so batch boundaries cannot move any document across splits."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        _cluster_labels,
        cluster_split_assignments,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "split")
    n, _ = run_twin("cluster_split", spark, sf_dir, out)
    assert n >= 1
    got = {
        r.doc_id: (r.clustered, r.gkey, r.split)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    want = {
        r.doc_id: (r.clustered, r.gkey, r.split)
        for r in cluster_split_assignments(
            load_table(spark, sf_dir, "documents"), _cluster_labels(spark, sf_dir)
        ).collect()
    }
    assert got == want
    assert len(want) > 0


def test_drift_monitor_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q166 streaming twin: per-day KL rows computed from the
    streamed partial-count sink + the persisted baseline must equal
    the batch query exactly — counts are additive, so a day split
    across micro-batches re-aggregates to the identical table."""
    from synthetic_data_pipeline_spark.operators.events import (
        drift_report_from,
        q166_event_drift,
        write_type_baseline,
    )

    out = str(tmp_path / "counts")
    base = str(tmp_path / "baseline")
    write_type_baseline(spark, sf_dir, base)
    n, base_out = run_twin("drift_monitor", spark, sf_dir, out, state_dir=base)
    assert n >= 1 and base_out == base
    got = sorted(map(tuple, drift_report_from(spark, out, base).collect()))
    want = sorted(map(tuple, q166_event_drift(spark, sf_dir).collect()))
    assert got == want and len(want) > 0


def test_bm25_retrieval_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q171 streaming twin: per-query top-k rows landed by the
    foreachBatch sink against the persisted BM25 index must equal the
    batch q164 exactly — the index is fixed state, each query doc's
    result depends only on its own text, so batch boundaries can't
    change any ranking."""
    from synthetic_data_pipeline_spark.operators.textops import (
        q164_bm25_retrieval,
        write_bm25_index,
    )

    out = str(tmp_path / "hits")
    idx = str(tmp_path / "bm25_index")
    write_bm25_index(spark, sf_dir, idx)
    n, _ = run_twin("bm25_retrieval", spark, sf_dir, out, state_dir=idx)
    assert n >= 1
    got = sorted(
        (r.query_id, r.rk, r.doc_id, r.score)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    want = sorted(
        (r.query_id, r.rk, r.doc_id, r.score)
        for r in q164_bm25_retrieval(spark, sf_dir).collect()
    )
    assert got == want and len(want) > 0


def test_quality_score_stream_equals_batch(spark, sf_dir, tmp_path):
    """The classifier serve-path streaming twin: per-doc
    (quality_prob, predicted) landed by the foreachBatch sink must
    equal batch scoring with the SAME persisted model exactly — the
    model is fixed JSON state and scoring is a pure per-row
    projection, so batch boundaries cannot move any probability."""
    from synthetic_data_pipeline_spark.functions.classifier import (
        load_model,
        predict_labels,
        write_quality_model,
    )
    from synthetic_data_pipeline_spark.operators.textops import (
        quality_features,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "scored")
    state = str(tmp_path / "qclf")
    mp = f"{state}/model.json"
    write_quality_model(spark, sf_dir, mp)
    n, _ = run_twin("quality_score", spark, sf_dir, out, state_dir=state)
    assert n >= 1
    got = sorted(
        (r.doc_id, r.quality_prob, r.predicted)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    model = load_model(mp)
    want = sorted(
        (r.doc_id, r.quality_prob, r.predicted)
        for r in predict_labels(
            quality_features(load_table(spark, sf_dir, "documents")), model
        )
        .select("doc_id", "quality_prob", "predicted")
        .collect()
    )
    assert got == want and len(want) > 0


def test_shard_append_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q183 streaming twin over the whole arrival slice in one
    availableNow drain: the landed manifest rows must equal q183's
    is_new rows exactly (same base offset, same within-batch packing)."""
    from synthetic_data_pipeline_spark.operators.assembly import (
        q183_incremental_shards,
        write_shard_state,
    )

    out = str(tmp_path / "manifest")
    state = str(tmp_path / "state")
    write_shard_state(spark, sf_dir, state)
    n, _ = run_twin("shard_append", spark, sf_dir, out, state_dir=state)
    assert n >= 1
    got = sorted(
        (r.shard_id, r.n_docs, r.shard_tokens, r.first_doc, r.last_doc)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    want = sorted(
        (r.shard_id, r.n_docs, r.shard_tokens, r.first_doc, r.last_doc)
        for r in q183_incremental_shards(spark, sf_dir).collect()
        if r.is_new == 1
    )
    assert got == want and len(want) > 0


def test_shard_append_two_batches_evolving_offset(spark, sf_dir, tmp_path):
    """Multi-batch state evolution: batch 2 must start at batch 1's
    advanced offset (base1 + ceil(tokens1/cap) — fresh-shard policy),
    shard ids never collide, and doc/token accounting is conserved
    across the split."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.assembly import (
        SHARD_TOKENS,
        shard_append_batch,
        write_shard_state,
    )
    from synthetic_data_pipeline_spark.operators.dedup import INGEST_MOD
    from synthetic_data_pipeline_spark.sources.tables import load_table

    state = str(tmp_path / "state")
    write_shard_state(spark, sf_dir, state)
    arrivals = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INGEST_MOD == 0
    )
    half = arrivals.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    b1 = arrivals.filter(F.col("doc_id") <= half)
    b2 = arrivals.filter(F.col("doc_id") > half)

    r1 = shard_append_batch(spark, state, b1, 0).collect()
    r2 = shard_append_batch(spark, state, b2, 1).collect()
    assert r1 and r2
    t1 = sum(r.shard_tokens for r in r1)
    base1 = min(r.shard_id for r in r1)
    expected_base2 = base1 + (t1 + SHARD_TOKENS - 1) // SHARD_TOKENS
    assert min(r.shard_id for r in r2) == expected_base2
    assert {r.shard_id for r in r1}.isdisjoint({r.shard_id for r in r2})
    n_docs = sum(r.n_docs for r in r1) + sum(r.n_docs for r in r2)
    assert n_docs == arrivals.count()

    # replay idempotency: re-running batch 1 against the state must
    # return identical rows and leave the latest snapshot untouched
    # (its own batch=0 snapshot is overwritten with the same value).
    r1_replay = shard_append_batch(spark, state, b1, 0).collect()
    assert sorted(map(tuple, r1_replay)) == sorted(map(tuple, r1))


def test_bm25_index_maintenance_stream(spark, sf_dir, tmp_path):
    """The index-maintenance streaming twin: after draining the
    arrival slice into an index seeded from the old corpus, retrieval
    through the evolved index must equal the full-scan q164 exactly
    (== a from-scratch rebuild, by the bm25_index_update parity)."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import INGEST_MOD
    from synthetic_data_pipeline_spark.operators.textops import (
        BM25_QUERY_MOD,
        bm25_from_index,
        q164_bm25_retrieval,
        write_bm25_index,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    old_dir = str(tmp_path / "old_corpus")
    docs.filter(F.col("doc_id") % INGEST_MOD != 0).write.parquet(
        f"{old_dir}/documents.parquet"
    )
    idx = str(tmp_path / "idx")
    write_bm25_index(spark, old_dir, idx)
    n, _ = run_twin(
        "bm25_index_maintenance", spark, sf_dir, str(tmp_path / "sink"),
        state_dir=idx,
    )
    assert n >= 1
    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 0)
    got = sorted(map(tuple, bm25_from_index(spark, idx, queries).collect()))
    want = sorted(map(tuple, q164_bm25_retrieval(spark, sf_dir).collect()))
    assert got == want and len(want) > 0


def test_evolving_dedup_catches_cross_batch_dup(spark, tmp_path):
    """Boundary-independent coverage, driven through the evolving
    twin's batch function: twins arriving in the SAME batch are
    flagged by within_batch_dups, twins split ACROSS batches by the
    index probe — and re-running a batch after its own admission (the
    replay case) emits exactly the same rows (no self-pairs, no doubled
    intra-batch pairs)."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        distinct_shingles,
        evolving_dedup_batch,
        minhash_signatures_from_tokens,
    )

    dup = "alpha beta gamma delta epsilon zeta eta theta " * 4
    dup2 = "kappa lam mu nu xi omicron pi rho " * 4
    schema = "doc_id long, text string, source string"
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, " ".join(f"u{i}" for i in range(40)), "s")], schema
    )
    toks = distinct_shingles(base)
    toks.write.parquet(f"{idx}/tokens/batch=-1")
    minhash_signatures_from_tokens(toks).write.parquet(
        f"{idx}/bands/batch=-1"
    )

    # batch 1: same-batch twins (20, 21) + unique doc 30
    b1 = spark.createDataFrame(
        [(20, dup, "s"), (21, dup + " tail", "s"), (30, dup2, "s")], schema
    )
    # batch 2: doc 40 twins batch 1's doc 30 (cross-batch)
    b2 = spark.createDataFrame([(40, dup2 + " coda", "s")], schema)

    def check_then_admit(batch_df, batch_id):
        return sorted(
            (r.new_doc_id, r.dup_of)
            for r in evolving_dedup_batch(
                spark, idx, batch_df, batch_id
            ).collect()
        )

    hits1 = check_then_admit(b1, 0)
    assert hits1 == [(21, 20)]  # same-batch twins caught

    hits2 = check_then_admit(b2, 1)
    assert hits2 == [(40, 30)]  # cross-batch twins caught

    # replay: batch 1's partitions are already in the index — the
    # check must emit the SAME rows, not self-pairs/doubled twins
    assert check_then_admit(b1, 0) == hits1


def test_dedup_index_update_replay_idempotent(spark, tmp_path):
    """A replayed admit batch rewrites its own partitions with the
    identical rows: the band/token tables are equal before and after
    the second call."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        dedup_index_update,
        distinct_shingles,
        minhash_signatures_from_tokens,
    )

    schema = "doc_id long, text string, source string"
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, " ".join(f"u{i}" for i in range(40)), "s")], schema
    )
    toks = distinct_shingles(base)
    toks.write.parquet(f"{idx}/tokens/batch=-1")
    minhash_signatures_from_tokens(toks).write.parquet(
        f"{idx}/bands/batch=-1"
    )

    batch = spark.createDataFrame(
        [(20, " ".join(f"w{i}" for i in range(40)), "s")], schema
    )
    dedup_index_update(spark, idx, batch, batch_id=0)

    def snap():
        return {
            t: sorted(map(tuple, spark.read.parquet(f"{idx}/{t}").collect()))
            for t in ("tokens", "bands")
        }

    before = snap()
    dedup_index_update(spark, idx, batch, batch_id=0)  # replay
    assert snap() == before


def test_evolving_dedup_stream_single_drain_equals_q118(
    spark, sf_dir, tmp_path
):
    """With one availableNow batch the landed rows equal batch q118
    UNION the arrivals' within-batch pairs — the boundary-independent
    semantics, stated exactly."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import (
        INGEST_MOD,
        q118_incremental_dedup,
        within_batch_dups,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "hits")
    n, _ = run_twin("evolving_dedup", spark, sf_dir, out)
    assert n >= 1
    got = sorted(
        (r.new_doc_id, r.dup_of, r.jaccard)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    )
    arrivals = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INGEST_MOD == 0
    )
    want = sorted(
        [
            (r.new_doc_id, r.dup_of, r.jaccard)
            for r in q118_incremental_dedup(spark, sf_dir).collect()
        ]
        + [
            (r.new_doc_id, r.dup_of, r.jaccard)
            for r in within_batch_dups(arrivals).collect()
        ]
    )
    assert got == want


def test_hourly_anomaly_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q187 streaming twin: anomaly rows scored from the streamed
    partial-count sink + the persisted median/MAD baseline must equal
    the batch query exactly — counts are additive, so an hour split
    across micro-batches re-aggregates to the identical table."""
    from synthetic_data_pipeline_spark.operators.events import (
        anomaly_report_from,
        q187_hourly_anomalies,
    )

    out = str(tmp_path / "counts")
    # default-arg path: the stream trains its own baseline and MUST
    # return where it put it, or the scorer can't run (ADVICE r11)
    n, base = run_twin("hourly_anomaly", spark, sf_dir, out)
    assert n >= 1 and base
    got = sorted(map(tuple, anomaly_report_from(spark, out, base).collect()))
    want = sorted(map(tuple, q187_hourly_anomalies(spark, sf_dir).collect()))
    assert got == want and len(want) > 0


def test_ivf_maintenance_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q189 streaming twin: vectors arriving through the stream
    land in the persisted IVF index (frozen-quantizer assignment,
    idempotent batch partitions), and the post-drain drift report
    equals q189's in-memory old+batch report exactly."""
    from synthetic_data_pipeline_spark.functions.xsql import (
        expand_u16,
        hash_u16,
    )
    from synthetic_data_pipeline_spark.operators.similarity import (
        IVF_BATCH_MOD,
        _as_double,
        ivf_drift_report,
        ivf_maintenance_report,
        write_ivf_index,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    b = expand_u16(hash_u16("CAST(vec_id AS STRING)", "ivfbatch"), "spark")
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("_new", F.expr(f"{b} % {IVF_BATCH_MOD} = 0"))
    )
    old = emb.filter(~F.col("_new")).drop("_new")
    new = emb.filter(F.col("_new")).drop("_new")

    idx = str(tmp_path / "ivf_index")
    write_ivf_index(old, idx)
    n, _ = run_twin(
        "ivf_maintenance", spark, sf_dir, str(tmp_path / "sink"),
        state_dir=idx,
    )
    assert n >= 1
    got = sorted(map(tuple, ivf_drift_report(spark, idx).collect()))
    want = sorted(map(tuple, ivf_maintenance_report(old, new).collect()))
    assert got == want and len(want) > 0


def test_index_maintenance_twins_build_their_own_index(
    spark, sf_dir, tmp_path
):
    """Without a caller's index, the bm25 and IVF maintenance rows
    index the non-arrival slice themselves, so the drained index gives
    the results of the caller-built-index tests above."""
    from synthetic_data_pipeline_spark.functions.xsql import (
        expand_u16,
        hash_u16,
    )
    from synthetic_data_pipeline_spark.operators.similarity import (
        IVF_BATCH_MOD,
        _as_double,
        ivf_drift_report,
        ivf_maintenance_report,
    )
    from synthetic_data_pipeline_spark.operators.textops import (
        BM25_QUERY_MOD,
        bm25_from_index,
        q164_bm25_retrieval,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    n, idx = run_twin(
        "bm25_index_maintenance", spark, sf_dir, str(tmp_path / "bm25")
    )
    assert n >= 1
    docs = load_table(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 0)
    got = sorted(map(tuple, bm25_from_index(spark, idx, queries).collect()))
    want = sorted(map(tuple, q164_bm25_retrieval(spark, sf_dir).collect()))
    assert got == want and len(want) > 0

    n, idx = run_twin("ivf_maintenance", spark, sf_dir, str(tmp_path / "ivf"))
    assert n >= 1
    b = expand_u16(hash_u16("CAST(vec_id AS STRING)", "ivfbatch"), "spark")
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("_new", F.expr(f"{b} % {IVF_BATCH_MOD} = 0"))
    )
    old = emb.filter(~F.col("_new")).drop("_new")
    new = emb.filter(F.col("_new")).drop("_new")
    got = sorted(map(tuple, ivf_drift_report(spark, idx).collect()))
    want = sorted(map(tuple, ivf_maintenance_report(old, new).collect()))
    assert got == want and len(want) > 0


def test_cohort_retention_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q193 streaming twin: retention matrix computed from the
    streamed per-batch (user, day) activity sink must equal the batch
    query exactly — distinct-of-union-of-distincts is the whole
    distinct, so batch boundaries can't move cohorts or offsets."""
    from synthetic_data_pipeline_spark.operators.events import (
        q193_cohort_retention,
        retention_from_sink,
    )

    out = str(tmp_path / "activity")
    n, _ = run_twin("cohort_retention", spark, sf_dir, out)
    assert n >= 1
    got = sorted(map(tuple, retention_from_sink(spark, out).collect()))
    want = sorted(map(tuple, q193_cohort_retention(spark, sf_dir).collect()))
    assert got == want and len(want) > 0


def test_dds_sketch_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q200 streaming twin: quantile estimates read from the
    streamed additive log-bucket sink must equal the batch query's
    estimate columns exactly — the DDSketch of a union is the
    bucket-wise sum of the sketches."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        dds_quantiles_from_sink,
        q200_quantile_sketch,
    )

    out = str(tmp_path / "dds")
    n, _ = run_twin("dds_sketch", spark, sf_dir, out)
    assert n >= 1
    got = sorted(map(tuple, dds_quantiles_from_sink(spark, out).collect()))
    want = sorted(
        (r.quantile, r.n, r.bucket, r.est)
        for r in q200_quantile_sketch(spark, sf_dir).collect()
    )
    assert got == want and len(want) == 3


def test_token_budget_sketch_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q204 streaming twin (the packing monitor): token-weighted
    quantile estimates read from the streamed additive weighted
    log-bucket sink must equal the batch query's estimate columns
    exactly — dds_hist_weighted of a union is the bucket-wise sum of
    the partials, same as q200's unweighted state."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        dds_weighted_quantiles_from_sink,
        q204_weighted_length_quantiles,
    )

    out = str(tmp_path / "tbudget")
    n, _ = run_twin("token_budget_sketch", spark, sf_dir, out)
    assert n >= 1
    got = sorted(
        map(tuple, dds_weighted_quantiles_from_sink(spark, out).collect())
    )
    want = sorted(
        (r.quantile, r.total_tokens, r.bucket, r.est)
        for r in q204_weighted_length_quantiles(spark, sf_dir).collect()
    )
    assert got == want and len(want) == 3


def test_hist_index_stream_equals_batch(spark, sf_dir, tmp_path):
    """The q79 streaming twin: quantiles read from the streamed
    additive hist-partial sink must equal the batch query exactly —
    the hist of a union is the bucket-wise sum of the hists."""
    from synthetic_data_pipeline_spark.operators.reshaping import (
        q79_histogram_quantiles,
        quantiles_from_sink,
    )

    out = str(tmp_path / "hist")
    n, _ = run_twin("hist_index", spark, sf_dir, out)
    assert n >= 1
    got = sorted(map(tuple, quantiles_from_sink(spark, out).collect()))
    want = sorted(
        map(tuple, q79_histogram_quantiles(spark, sf_dir).collect())
    )
    assert got == want and len(want) == 3


def test_transition_stream_planted_boundaries(spark, tmp_path):
    """The q185/q211 streaming twin on a 3-slice planted stream: the
    re-summed sink must equal the batch transition_counts over the
    union, INCLUDING the transitions that cross micro-batch boundaries
    (slice0→slice1 within the 30-min gap rule) — and a within-slice-only
    reckoning must undercount, proving the carried last-event state
    actually fired. A 65-min gap across slice1→slice2 pins the gap rule
    at a boundary too."""
    import datetime as dt
    import time

    from synthetic_data_pipeline_spark.operators.events import (
        transition_counts,
        transition_counts_from_sink,
        transition_entropy_from_counts,
    )

    T = dt.datetime(2025, 3, 1, 12, 0, 0)
    m = dt.timedelta  # noqa: E741 - terse planted-corpus arithmetic

    # user 1 spans all three slices: ... b | a ... | (65-min break) c
    # user 2 lives inside slice 0 only; user 3 crosses 0→1 only.
    slices = [
        [  # slice 0 (ts < 12:15)
            (0, T + m(minutes=0), 1, "a"),
            (1, T + m(minutes=10), 1, "b"),
            (2, T + m(minutes=1), 2, "a"),
            (3, T + m(minutes=2), 2, "a"),
            (4, T + m(minutes=12), 3, "b"),
        ],
        [  # slice 1 (12:15 - 12:40)
            (5, T + m(minutes=20), 1, "a"),   # b→a boundary, gap 10
            (6, T + m(minutes=25), 3, "c"),   # b→c boundary, gap 13
        ],
        [  # slice 2: 65 min after user 1's last event — gap-ruled out
            (7, T + m(minutes=85), 1, "c"),
        ],
    ]
    src = str(tmp_path / "slices")
    frames = []
    for i, rows in enumerate(slices):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        frames.append(df)
        df.coalesce(1).write.parquet(f"{src}/s{i}")
        time.sleep(0.2)  # distinct mtimes -> deterministic batch order

    out = str(tmp_path / "trans")
    state = str(tmp_path / "state")
    n, _ = run_twin("transition", spark, src, out, state)
    assert n >= 3  # one micro-batch per slice file

    got = sorted(
        map(tuple, transition_counts_from_sink(spark, out).collect())
    )
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    want = sorted(map(tuple, transition_counts(union).collect()))
    assert got == want
    # hand-check: a→b, a→a, b→a, b→c — and NO a→c (the 65-min gap)
    assert dict(((f, t), c) for f, t, c in got) == {
        ("a", "b"): 1, ("a", "a"): 1, ("b", "a"): 1, ("b", "c"): 1,
    }
    # non-vacuity: within-slice-only counts MISS the two boundary rows
    per_slice = {}
    for f in frames:
        for r in transition_counts(f).collect():
            per_slice[(r.from_type, r.to_type)] = (
                per_slice.get((r.from_type, r.to_type), 0) + r.n
            )
    assert sum(per_slice.values()) == sum(c for _, _, c in got) - 2
    # entropy reader rides the same frame the batch algebra rides
    ent = {
        r.from_type: r
        for r in transition_entropy_from_counts(
            transition_counts_from_sink(spark, out)
        ).collect()
    }
    assert ent["a"].n_out == 2 and ent["a"].n_next_types == 2
    assert ent["b"].n_out == 2 and ent["b"].n_next_types == 2


def test_transition_stream_sf_equals_batch(spark, sf_dir, tmp_path):
    """Whole-table drain of the standard events stream: the re-summed
    sink equals batch transition_counts, and the entropy reader equals
    q211 row-for-row."""
    from synthetic_data_pipeline_spark.operators.events import (
        q211_transition_entropy,
        transition_counts,
        transition_counts_from_sink,
        transition_entropy_from_counts,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    # the twin streams a directory of event slices: here, one slice
    # holding the whole events table
    src = tmp_path / "slices"
    src.mkdir()
    shutil.copyfile(f"{sf_dir}/events.parquet", src / "events.parquet")
    out = str(tmp_path / "trans")
    state = str(tmp_path / "state")
    n, _ = run_twin("transition", spark, str(src), out, state)
    assert n >= 1
    got = sorted(
        map(tuple, transition_counts_from_sink(spark, out).collect())
    )
    want = sorted(
        map(
            tuple,
            transition_counts(load_table(spark, sf_dir, "events")).collect(),
        )
    )
    assert got == want and len(want) > 0
    ent_got = sorted(
        map(
            tuple,
            transition_entropy_from_counts(
                transition_counts_from_sink(spark, out)
            ).collect(),
        )
    )
    ent_want = sorted(
        map(tuple, q211_transition_entropy(spark, sf_dir).collect())
    )
    assert ent_got == ent_want
