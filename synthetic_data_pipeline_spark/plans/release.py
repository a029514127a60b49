"""End-to-end RELEASE pipeline: the one-call materialization a user of
this engine runs to turn a raw corpus into a publishable training-data
release. Chains the repo's individually-verified stages — nothing here
re-implements logic; it is pure composition of the same functions the
oracle-checked queries use, so every stage's correctness is already
pinned elsewhere:

  1. exact+near dedup  — q95's retention list (persisted, the
     cross-job form), anti-joined (q101's action)
  2. quality filter    — q97's drop flag (shared quality_drop_expr)
  3. benchmark holdout — the held-out benchmark source (q105/q160's
     DECON_BENCH_SOURCE) is EXCLUDED from the release: a training
     corpus never ships the eval suite itself
  4. boilerplate strip — q155's first-occurrence-wins rewrite; the
     boilerplate gram SET is computed from the FULL RAW corpus so the
     definition agrees with q155's corpus-wide one even though only
     the surviving subset is rewritten (ADVICE r11)
  5. decontamination   — q160's strip against the PERSISTED benchmark
     gram index ({out}/bench_grams — the same artifact the streaming
     twin uses), applied to the post-boilerplate text: every train
     position covered by a benchmark 4-gram is removed, so the q105
     detector finds ZERO contamination in what ships (pinned by test)
  6. PII redaction     — q93's catalog-order scrub applied to the
     near-final text (LAST rewrite, so nothing that ships escapes it);
     zero real SIT matches survive (pinned by test)
  7. staging           — the curated corpus lands as an sf_dir-shaped
     directory ({out}/corpus/documents.parquet), so EVERY downstream
     action (shards, cards, splits) runs against it unchanged
  8. cluster-aware split — q145's assignment: the split key is the
     doc's near-dup CLUSTER label (persisted at {out}/labels), hashed
     with q96's counter-mode mechanism, so near-duplicates can never
     straddle a split boundary. Post-retention each cluster keeps one
     member, so this usually coincides with q96's doc-hash split —
     but keying on the cluster label keeps the guarantee even if the
     retention policy changes (e.g. q144's quality-upgraded keepers,
     where the kept doc is NOT the cluster's min id)
  9. token-packed shards — assembly.write_training_shards over the
     staged corpus (hive-partitioned, checksummed manifest)
 10. release manifest  — textops.write_snapshot_manifest (the
     fingerprint table q188 diffs the NEXT release against)
 11. dataset cards     — textops.write_dataset_cards (one .md per
     surviving source)

Returns (and writes as {out}/RELEASE.json) the per-stage accounting.
Scale shape: every stage is the already-audited plan of its query —
the composition adds one corpus write (the staged parquet) and
driver-side work bounded by |sources| + |stages| rows. The two text
rewrites (4, 5) and the redaction chain (6) are narrow maps over the
curated subset; the gram flag joins broadcast boilerplate-/benchmark-
sized tables, never the corpus.

Reference parity note: this is the Spark-first analog of the
reference's end-to-end main() (generate -> postprocess -> validate ->
files on disk) applied to CURATION: one entrypoint, a directory of
artifacts, a summary report.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def _curation_stages(
    spark: SparkSession,
    sf_dir: str,
    retention_path: str,
    bench_gram_path: str,
    only_ids: DataFrame | None = None,
    bp_set: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Stages 1-6 as named frames so build_release can account each
    strip off the SAME lineage it ships: dedup anti-join, quality
    filter, benchmark holdout, boilerplate strip (gram set from the
    FULL raw corpus), decontamination strip (persisted benchmark gram
    index), PII redaction. Touched docs are rewritten, others pass
    verbatim through each strip; the redaction chain sees every
    shipped byte.

    Deliberately LAZY (A/B'd, round 12): eagerly localCheckpoint-ing
    the two touched frames — so the accounting aggs, the next stage
    and the staged write share one materialization — measured 90-124 s
    vs 48 s lazy on the e2e test. Column pruning is why: the
    accounting aggs never construct clean_text at all (only
    tokens_removed survives pruning), so the "shared" materialization
    pays the full rewrite THEN stores it, while the lazy plan's
    recomputation is two cheap pruned passes. Revisit only if a
    profile shows the positional-gram explode (not the rewrite)
    dominating at the target scale.

    ``only_ids`` restricts the REWRITTEN set to the given (doc_id)
    frame while the corpus-global definitions stay corpus-global —
    the incremental release's reprocess subset. ``bp_set`` injects a
    precomputed (source, g) boilerplate flag table (the merged
    evolving-state counts) instead of recounting grams from the raw
    corpus."""
    from ..operators.sitscan import redacted_frame
    from ..operators.textops import (
        DECON_BENCH_SOURCE,
        boilerplate_clean,
        decon_strip_batch,
        quality_drop_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.join(
        spark.read.parquet(retention_path).select("doc_id"), "doc_id", "anti"
    )
    if only_ids is not None:
        kept = kept.join(only_ids.select("doc_id"), "doc_id", "semi")
    flags = quality_drop_expr(kept).filter(~F.col("qdrop")).select("doc_id")
    kept = kept.join(flags, "doc_id").filter(
        F.col("source") != DECON_BENCH_SOURCE
    )
    # stage 4: boilerplate strip — gram DEFINITION from the raw corpus
    bp_touched = boilerplate_clean(kept, gram_docs=docs, gram_set=bp_set)
    bp = kept.join(
        bp_touched.select("doc_id", F.col("clean_text").alias("bp_text")),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("bp_text", "text").alias("text"),
        "lang",
        "source",
    )
    # stage 5: decontamination strip against the persisted bench index
    dc_touched = decon_strip_batch(spark, bench_gram_path, bp)
    dc = bp.join(
        dc_touched.select("doc_id", F.col("clean_text").alias("dc_text")),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("dc_text", "text").alias("text"),
        "lang",
        "source",
    )
    # stage 6: PII redaction — the LAST rewrite before staging
    final = redacted_frame(dc).select(
        "doc_id",
        F.col("_red").alias("text"),
        "lang",
        "source",
        F.length("_red").alias("n_chars"),
    )
    return {"bp_touched": bp_touched, "dc_touched": dc_touched, "final": final}


def curated_corpus(
    spark: SparkSession,
    sf_dir: str,
    retention_path: str,
    bench_gram_path: str,
) -> DataFrame:
    """Stages 1-6 as one DataFrame (see :func:`_curation_stages`)."""
    return _curation_stages(
        spark, sf_dir, retention_path, bench_gram_path
    )["final"]


# The staged corpus is hive-partitioned on pt = doc_id % N so a DELTA
# release can rewrite ONLY the partitions containing touched docs and
# carry the rest as directory copies — at 100 TB the weekly delta's
# dominant cost would otherwise be REWRITING unchanged bytes, not
# computing them (compute-incrementality alone still rewrites the
# lake). A local copy is shutil.copytree; on an object store the same
# step is a server-side copy / manifest pointer — either way no Spark
# job touches untouched partitions' bytes.
N_CORPUS_PARTITIONS = 32


def _pt_col():
    return F.pmod(F.col("doc_id"), F.lit(N_CORPUS_PARTITIONS)).cast("int")


def _write_delta_state(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Persist the evolving-state artifacts an INCREMENTAL next release
    merges against (update_release): the raw-corpus fingerprint
    manifest (new/changed/removed detection), the minhash signature
    frame (incremental_cluster_labels' lake side), the additive
    (source, g, df) gram counts and the per-source doc counts (the
    boilerplate threshold's inputs — both bucket-wise mergeable).
    All four are index-scale (fingerprints, band signatures, distinct
    grams), never corpus-text-scale."""
    from ..operators.dedup import minhash_signatures_from_tokens, token_state
    from ..operators.textops import snapshot_manifest, source_gram_counts

    docs = load_table(spark, sf_dir, "documents")
    snapshot_manifest(docs).write.mode("overwrite").parquet(
        f"{out_dir}/raw_manifest"
    )
    minhash_signatures_from_tokens(
        token_state(spark, sf_dir)
    ).write.mode("overwrite").parquet(f"{out_dir}/sigs")
    source_gram_counts(docs).write.mode("overwrite").parquet(
        f"{out_dir}/bp_gram_counts"
    )
    docs.groupBy("source").agg(F.count("*").alias("n_docs")).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/source_counts")


def build_release(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from ..operators.assembly import write_training_shards
    from ..operators.sketches import (
        cluster_split_assignments,
        write_label_index,
        write_retention,
    )
    from ..operators.textops import (
        DECON_BENCH_SOURCE,
        quality_drop_expr,
        write_bench_gram_index,
        write_dataset_cards,
        write_snapshot_manifest,
    )

    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    # 1. the four persisted index artifacts are independent of each
    # other (retention, benchmark gram index, label index, delta
    # state) — overlap them from a small thread pool so the next
    # build's tasks back-fill executors freed by the current one's
    # tail (guide §2.6; A/B'd r14: 8.6 s -> 6.2 s for the block,
    # cold-funnel each arm). Shared session state is built once under
    # the state store's per-key lock, whichever builder asks first.
    from concurrent.futures import ThreadPoolExecutor

    retention_path = f"{out_dir}/retention"
    bench_gram_path = f"{out_dir}/bench_grams"
    label_path = f"{out_dir}/labels"
    builders = [
        lambda: write_retention(spark, sf_dir, retention_path),
        lambda: write_bench_gram_index(spark, sf_dir, bench_gram_path),
        lambda: write_label_index(spark, sf_dir, label_path),
        lambda: _write_delta_state(spark, sf_dir, out_dir),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        for done in pool.map(lambda f: f(), builders):
            pass
    n_dedup_dropped = spark.read.parquet(retention_path).count()

    # 2-3. quality + benchmark-holdout accounting (flags recomputed on
    # the post-dedup frame so the numbers reconcile with the staged
    # corpus)
    kept1 = docs.join(
        spark.read.parquet(retention_path).select("doc_id"), "doc_id", "anti"
    )
    # one pruned pass computes both counts (the old shape ran the
    # quality expression twice — a count action plus a self-join —
    # over the same post-dedup frame; r14)
    q_acct = quality_drop_expr(kept1).agg(
        F.sum(F.when(F.col("qdrop"), 1).otherwise(0)).alias("n_q"),
        F.sum(
            F.when(
                ~F.col("qdrop")
                & (F.col("source") == DECON_BENCH_SOURCE),
                1,
            ).otherwise(0)
        ).alias("n_b"),
    ).collect()[0]
    n_quality_dropped = q_acct.n_q or 0
    n_benchmark_held_out = q_acct.n_b or 0

    stages = _curation_stages(spark, sf_dir, retention_path, bench_gram_path)
    curated = stages["final"]
    bp_acct = stages["bp_touched"].agg(
        F.count("*").alias("n"), F.sum("tokens_removed").alias("tok")
    ).collect()[0]
    dc_acct = stages["dc_touched"].agg(
        F.count("*").alias("n"), F.sum("tokens_removed").alias("tok")
    ).collect()[0]

    # 4-8. stage the curated corpus (sf_dir-shaped) with the
    # cluster-aware split column (q145's assignment over the persisted
    # label index — near-dups can never straddle a split boundary)
    splits = cluster_split_assignments(
        curated, spark.read.parquet(label_path)
    ).select("doc_id", "split")
    corpus_dir = f"{out_dir}/corpus"
    curated.join(splits, "doc_id").withColumn("pt", _pt_col()).write.partitionBy(
        "pt"
    ).mode("overwrite").parquet(f"{corpus_dir}/documents.parquet")
    staged = load_table(spark, corpus_dir, "documents")
    n_curated = staged.count()
    split_counts = {
        r.split: r.n
        for r in staged.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # strip/redaction accounting off the staged corpus (1-row aggs)
    n_pii = staged.agg(
        F.sum(
            (
                F.length("text")
                - F.length(F.replace("text", F.lit("[SIT_"), F.lit("")))
            )
            / F.lit(5)
        )
        .cast("long")
        .alias("n")
    ).collect()[0].n

    # 9-11. shards, fingerprint manifest (q188 diffs the next release
    # against this) and per-source dataset cards all derive from the
    # STAGED corpus independently — overlap them (guide §2.6, same
    # pool shape as the index builds above)
    with ThreadPoolExecutor(max_workers=3) as pool:
        for done in pool.map(
            lambda f: f(),
            [
                lambda: write_training_shards(
                    spark, corpus_dir, f"{out_dir}/training"
                ),
                lambda: write_snapshot_manifest(
                    staged, f"{out_dir}/manifest"
                ),
                lambda: write_dataset_cards(
                    spark, corpus_dir, f"{out_dir}/cards"
                ),
            ],
        ):
            pass
    n_shards = (
        spark.read.parquet(f"{out_dir}/training/_manifest").count()
    )

    summary = {
        "sf_dir": sf_dir,
        "n_raw_docs": n_raw,
        "n_dedup_dropped": n_dedup_dropped,
        "n_quality_dropped": n_quality_dropped,
        "n_benchmark_held_out": n_benchmark_held_out,
        "n_boilerplate_docs_touched": bp_acct.n,
        "n_boilerplate_tokens_removed": int(bp_acct.tok or 0),
        "n_decon_docs_touched": dc_acct.n,
        "n_decon_tokens_removed": int(dc_acct.tok or 0),
        "n_pii_redactions": int(n_pii or 0),
        "n_curated_docs": n_curated,
        "split_counts": split_counts,
        "n_shards": n_shards,
        "artifacts": sorted(
            d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))
        ),
    }
    with open(f"{out_dir}/RELEASE.json", "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    return summary


def _local_copy_partition(src: str, dst: str) -> None:
    """Default partition-carry for a local filesystem: a recursive
    directory copy. Object-store deployments inject their own
    server-side copy (S3 CopyObject / GCS rewrite / a manifest
    pointer) via ``update_release(copy_partition=...)`` — the carry
    logic itself is store-agnostic (VERDICT r13 #6)."""
    import shutil

    shutil.copytree(src, dst)


def update_release(
    spark: SparkSession,
    prev_out: str,
    sf_dir: str,
    out_dir: str,
    copy_partition=None,
    prev_sf_dir: str | None = None,
) -> dict:
    """Incremental (delta) release — VERDICT r12 #7: given release N's
    output directory (``prev_out``, with the evolving-state artifacts
    ``_write_delta_state`` persists) and the GROWN corpus at
    ``sf_dir``, produce release N+1 at ``out_dir`` rewriting ONLY the
    documents whose curation inputs changed; everything else carries
    its already-curated text forward from N's staged corpus. What a
    100 TB pipeline runs weekly: the full rebuild recomputes the
    world, this touches the delta.

    The reprocess set is EXACT, derived from how each stage's inputs
    can change:
      * new/changed docs (raw-manifest fingerprint diff) — their text
        was never curated / changed under them;
      * docs containing a FLIPPED boilerplate gram — the threshold
        df >= max(2, ceil(n_docs/20)) moves as the corpus grows, so
        grams enter AND leave the flag set; both directions change an
        old doc's stage-4 rewrite. Counts merge additively
        (source_gram_counts), the flip set is the symmetric difference
        of old/new flag sets, and affected docs come from ONE
        distinct-gram scan against the broadcast flip set — skipped
        entirely when nothing flipped (the steady state);
      * docs containing a gram ADDED to the benchmark index (new
        benchmark docs) — their stage-5 strip output changes;
      * docs whose retention status flipped: newly dropped leave the
        release (membership only, no rewrite), newly KEPT (possible
        only under doc changes/removals) never had curated text and
        must be rewritten.
    Cluster labels merge via incremental_cluster_labels (the
    q163-pinned contraction) in every case; doc CHANGES or REMOVALS —
    which can SPLIT clusters, inexpressible by the monotone merge
    alone — dissolve exactly the components containing a dirty doc and
    re-derive them inside the batch (survivors re-enter with persisted
    signatures), so the relabel cost scales with the delta and its
    components, never the corpus (VERDICT r13 #5).
    Splits are re-derived for the WHOLE release from the new labels (a
    metadata-scale hash, q145's mechanism), so a cluster merge moves
    every member to one split together.

    I/O is incremental too: the staged corpus is hive-partitioned on
    pt = doc_id % N_CORPUS_PARTITIONS, and only partitions containing
    touched rows (text reprocessed, membership changed, or split
    moved) are rewritten — untouched partitions carry via the
    ``copy_partition(src, dst)`` hook (default: local copytree;
    object-store deployments inject a server-side copy / manifest
    pointer — the untouched-partition list comes from the DATA, not a
    directory listing, so the carry is store-agnostic). Without this
    the weekly delta's dominant cost at 100 TB would be rewriting
    unchanged bytes, not computing them.

    ``prev_sf_dir`` (optional): the RAW corpus release N was built
    from — the immutable snapshot a lake typically keeps. When given,
    the edit/removal path retracts the dirty docs' gram contributions
    exactly (counted from the prev snapshot) instead of recounting the
    whole corpus, making the gram stage delta-scale under edits too;
    without it the edit path pays one full-corpus gram recount
    (honest fallback, identical results — pinned by test).

    Equivalence contract (pinned by test_update_release_equals_full):
    the staged corpus, splits and accounting equal build_release run
    from scratch on the grown corpus. Returns the accounting dict
    (also written as {out}/RELEASE.json) with carried/reprocessed
    rows."""
    from ..operators.dedup import (
        distinct_shingles,
        minhash_signatures_from_tokens,
    )
    from ..operators.sketches import (
        cluster_split_assignments,
        incremental_cluster_labels,
    )
    from ..operators.textops import (
        DECON_BENCH_SOURCE,
        boilerplate_threshold_filter,
        distinct_ngrams,
        snapshot_manifest,
        source_gram_counts,
        write_dataset_cards,
        write_snapshot_manifest,
    )
    from ..operators.assembly import write_training_shards

    if os.path.abspath(prev_out) == os.path.abspath(out_dir):
        raise ValueError(
            "update_release: out_dir must differ from prev_out (state is "
            "read from prev_out while out_dir is written)"
        )
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")

    # --- 1. classify the delta off the raw-fingerprint manifests
    prev_raw = spark.read.parquet(f"{prev_out}/raw_manifest")
    cur_raw = snapshot_manifest(docs)
    j = cur_raw.select(
        "doc_id", F.col("fp").alias("fp_c")
    ).join(
        prev_raw.select("doc_id", F.col("fp").alias("fp_p")),
        "doc_id",
        "full_outer",
    )
    status = (
        F.when(F.col("fp_p").isNull(), "added")
        .when(F.col("fp_c").isNull(), "removed")
        .when(F.col("fp_c") != F.col("fp_p"), "changed")
        .otherwise("unchanged")
    )
    # classed feeds MANY consumers (delta/removed/gone ids, the gram
    # retraction, the steady-state fallbacks) and its lineage is the
    # full-outer fingerprint join over an md5 manifest of the whole
    # corpus — checkpoint the narrow (doc_id, st) result so the
    # manifest is computed once per update, not once per consumer
    # action (r14; the st_counts collect below materializes it)
    classed = j.select("doc_id", status.alias("st")).localCheckpoint(
        eager=False
    )
    st_counts = {
        r.st: r.n
        for r in classed.groupBy("st").agg(F.count("*").alias("n")).collect()
    }  # ≤4 rows
    n_added = st_counts.get("added", 0)
    n_changed = st_counts.get("changed", 0)
    n_removed = st_counts.get("removed", 0)
    append_only = n_changed == 0 and n_removed == 0
    delta_ids = classed.filter(F.col("st").isin("added", "changed")).select(
        "doc_id"
    )
    removed_ids = classed.filter(F.col("st") == "removed").select("doc_id")
    delta_docs = docs.join(delta_ids, "doc_id", "semi")

    # --- 2. cluster labels + retention: component-local incremental
    # merge (VERDICT r13 #5 — replaces the whole-corpus relabel the
    # edit path used to take). Append-only growth is the degenerate
    # case (no dirty components). Doc EDITS/REMOVALS dissolve exactly
    # the components containing a dirty doc: their SURVIVORS re-enter
    # the batch with their persisted signatures (text unchanged ⇒ sig
    # unchanged), dirty docs' old signatures leave the pair graph, and
    # every other component's label carries forward verbatim. Splits
    # are expressible because a dirty component is re-derived from
    # scratch within the batch (survivor↔survivor collisions are
    # batch↔all pairs); merges with untouched components ride the same
    # monotone contraction as the append-only case. The relabel cost
    # scales with |delta| + |dirty components|, never corpus size —
    # at 100 TB one edited doc re-pairs its component, not the lake.
    # The dirty/survivor frames are delta-bounded by the weekly-delta
    # contract, hence the broadcast hints.
    sig_old = spark.read.parquet(f"{prev_out}/sigs")
    old_labels = spark.read.parquet(f"{prev_out}/labels")
    sig_delta = minhash_signatures_from_tokens(
        distinct_shingles(delta_docs)
    ).localCheckpoint(eager=False)  # batch-bounded
    if append_only:
        base_labels = old_labels
        sig_all = sig_old.unionByName(sig_delta)
        sig_batch = sig_delta
    else:
        dirty = classed.filter(F.col("st").isin("changed", "removed")).select(
            F.col("doc_id").alias("node")
        )
        dirty_lbls = (
            old_labels.join(F.broadcast(dirty), "node", "semi")
            .select("label")
            .distinct()
        )
        base_labels = old_labels.join(F.broadcast(dirty_lbls), "label", "anti")
        survivors = (
            old_labels.join(F.broadcast(dirty_lbls), "label", "semi")
            .join(F.broadcast(dirty), "node", "anti")
            .select(F.col("node").alias("doc_id"))
        )
        gone = classed.filter(F.col("st").isin("changed", "removed")).select(
            "doc_id"
        )
        sig_cur = sig_old.join(F.broadcast(gone), "doc_id", "anti")
        sig_all = sig_cur.unionByName(sig_delta)
        sig_batch = sig_cur.join(
            F.broadcast(survivors), "doc_id", "semi"
        ).unionByName(sig_delta)
    labels = incremental_cluster_labels(sig_all, sig_batch, base_labels)
    labels.write.mode("overwrite").parquet(f"{out_dir}/labels")
    labels = spark.read.parquet(f"{out_dir}/labels")
    sig_all.write.mode("overwrite").parquet(f"{out_dir}/sigs")
    retention_path = f"{out_dir}/retention"
    labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    ).write.mode("overwrite").parquet(retention_path)
    retention = spark.read.parquet(retention_path).select("doc_id")
    prev_retention = spark.read.parquet(f"{prev_out}/retention").select(
        "doc_id"
    )
    newly_dropped = retention.join(prev_retention, "doc_id", "anti")
    newly_kept = prev_retention.join(retention, "doc_id", "anti")
    n_dedup_dropped = retention.count()

    # --- 3. boilerplate gram counts. Append-only: additive merge.
    # Edits/removals: old contributions must be RETRACTED, which needs
    # the old text — when the lake keeps the previous raw snapshot
    # (``prev_sf_dir``, the immutable-lake norm), the retraction is
    # exact and delta-scale: subtract the dirty docs' per-(source, g)
    # contributions counted from the PREV snapshot (under their OLD
    # source — a metadata-only move retracts from the old source and
    # adds under the new one), add the delta's. Only without a prev
    # snapshot does the edit path pay a full corpus recount.
    gone_raw = classed.filter(F.col("st").isin("changed", "removed")).select(
        "doc_id"
    )
    if append_only or prev_sf_dir is not None:
        parts = [
            spark.read.parquet(f"{prev_out}/bp_gram_counts"),
            source_gram_counts(delta_docs),
        ]
        nd_parts = [
            spark.read.parquet(f"{prev_out}/source_counts"),
            delta_docs.groupBy("source").agg(F.count("*").alias("n_docs")),
        ]
        if not append_only:
            dirty_prev = load_table(spark, prev_sf_dir, "documents").join(
                F.broadcast(gone_raw), "doc_id", "semi"
            )
            parts.append(
                source_gram_counts(dirty_prev).select(
                    "source", "g", (-F.col("df")).alias("df")
                )
            )
            nd_parts.append(
                dirty_prev.groupBy("source").agg(
                    (-F.count("*")).alias("n_docs")
                )
            )
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        merged = (
            merged.groupBy("source", "g")
            .agg(F.sum("df").alias("df"))
            .filter(F.col("df") > 0)  # fully-retracted grams drop out,
            #                           matching a from-scratch count
        )
        nd_new = nd_parts[0]
        for p in nd_parts[1:]:
            nd_new = nd_new.unionByName(p)
        nd_new = (
            nd_new.groupBy("source")
            .agg(F.sum("n_docs").alias("n_docs"))
            .filter(F.col("n_docs") > 0)
        )
    else:
        merged = source_gram_counts(docs)
        nd_new = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    merged.write.mode("overwrite").parquet(f"{out_dir}/bp_gram_counts")
    merged = spark.read.parquet(f"{out_dir}/bp_gram_counts")
    nd_new.write.mode("overwrite").parquet(f"{out_dir}/source_counts")
    nd_new = spark.read.parquet(f"{out_dir}/source_counts")
    bp_new = boilerplate_threshold_filter(merged, nd_new)
    bp_old = boilerplate_threshold_filter(
        spark.read.parquet(f"{prev_out}/bp_gram_counts"),
        spark.read.parquet(f"{prev_out}/source_counts"),
    )
    flipped = bp_new.join(bp_old, ["source", "g"], "anti").unionByName(
        bp_old.join(bp_new, ["source", "g"], "anti")
    )

    # --- 4. benchmark gram index: distinct-of-union == union-of-
    # distinct, so append-only merges; either way the CHANGED grams
    # (both directions) re-decontaminate the old docs containing them
    prev_bench = spark.read.parquet(f"{prev_out}/bench_grams").select("g")
    if append_only:
        bench_new = prev_bench.unionByName(
            distinct_ngrams(
                delta_docs.filter(F.col("source") == DECON_BENCH_SOURCE)
            ).select("g")
        ).distinct()
    else:
        bench_new = (
            distinct_ngrams(
                docs.filter(F.col("source") == DECON_BENCH_SOURCE)
            )
            .select("g")
            .distinct()
        )
    bench_gram_path = f"{out_dir}/bench_grams"
    bench_new.write.mode("overwrite").parquet(bench_gram_path)
    bench_new = spark.read.parquet(bench_gram_path)
    bench_delta = bench_new.join(prev_bench, "g", "anti").unionByName(
        prev_bench.join(bench_new, "g", "anti")
    )

    # --- 5. old docs whose gram-level inputs changed: ONE distinct-
    # gram scan against the broadcast flip sets, skipped in the steady
    # state (no threshold crossings, benchmark unchanged). The flip
    # sets are boundary-crossers — index-scale, broadcastable.
    n_flipped_bp = flipped.count()
    n_bench_delta = bench_delta.count()
    if n_flipped_bp or n_bench_delta:
        old_docs = docs.join(delta_ids, "doc_id", "anti")
        grams = distinct_ngrams(old_docs)
        aff_bp = grams.join(
            F.broadcast(flipped.select("source", "g")), ["source", "g"]
        ).select("doc_id")
        aff_bench = grams.join(
            F.broadcast(bench_delta.select("g")), "g"
        ).select("doc_id")
        # consumed by reprocess_ids AND the accounting count — without
        # the checkpoint each re-ran the old-corpus gram scan (r14)
        affected = (
            aff_bp.unionByName(aff_bench).distinct().localCheckpoint(
                eager=False
            )
        )
    else:
        affected = delta_ids.limit(0)

    # --- 6. the exact reprocess set; everything else carries forward
    reprocess_ids = (
        delta_ids.unionByName(affected)
        .unionByName(newly_kept)
        .distinct()
        .localCheckpoint(eager=False)
    )
    stages = _curation_stages(
        spark,
        sf_dir,
        retention_path,
        bench_gram_path,
        only_ids=reprocess_ids,
        bp_set=bp_new,
    )
    reprocessed = stages["final"]
    bp_acct = stages["bp_touched"].agg(
        F.count("*").alias("n"), F.sum("tokens_removed").alias("tok")
    ).collect()[0]
    dc_acct = stages["dc_touched"].agg(
        F.count("*").alias("n"), F.sum("tokens_removed").alias("tok")
    ).collect()[0]

    prev_staged = load_table(spark, prev_out + "/corpus", "documents")
    prev_partitioned = "pt" in prev_staged.columns
    if not prev_partitioned:  # pre-partitioning release N
        prev_staged = prev_staged.withColumn("pt", _pt_col())
    carried = (
        prev_staged.select(
            "doc_id", "text", "lang", "source", "n_chars", "pt"
        )
        .join(reprocess_ids, "doc_id", "anti")
        .join(newly_dropped, "doc_id", "anti")
        .join(removed_ids, "doc_id", "anti")
    )
    n_carried = carried.count()
    n_reprocessed = reprocessed.count()
    corpus = carried.unionByName(reprocessed.withColumn("pt", _pt_col()))

    # --- 7. stage: splits re-derive for the WHOLE release (metadata-
    # scale), but only the PARTITIONS containing touched rows are
    # rewritten — a row is touched when its text changed (reprocess),
    # its membership changed (newly dropped / removed), or a cluster
    # merge MOVED its split; everything else carries as a directory
    # copy, never through a Spark write (the 100 TB point: the weekly
    # delta must not rewrite the lake's unchanged bytes)
    # splits feeds split_moved AND the rewrite join; split_moved feeds
    # touched_pts AND the accounting count — checkpoint both narrow
    # frames so the carried∪reprocessed lineage behind them runs once
    # per update (r14)
    splits = (
        cluster_split_assignments(corpus, labels)
        .select("doc_id", "split")
        .localCheckpoint(eager=False)
    )
    split_moved = (
        prev_staged.select("doc_id", F.col("split").alias("old_split"))
        .join(splits, "doc_id")
        .filter(F.col("old_split") != F.col("split"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    touched_pts = sorted(
        r.pt
        for r in reprocess_ids.unionByName(newly_dropped)
        .unionByName(removed_ids)
        .unionByName(split_moved)
        .select(_pt_col().alias("pt"))
        .distinct()
        .collect()  # ≤ N_CORPUS_PARTITIONS rows
    )
    corpus_dir = f"{out_dir}/corpus"
    corpus_path = f"{corpus_dir}/documents.parquet"
    prev_path = f"{prev_out}/corpus/documents.parquet"
    # Idempotent staging (ADVICE r13): a retried update_release into an
    # existing out_dir must CONVERGE — start from an empty corpus dir so
    # prior copytree targets can't raise FileExistsError and a crashed
    # mid-append can't leave partials that mode('append') double-counts.
    # out_dir != prev_out is enforced above, so this only ever removes
    # this run's own (possibly partial) output.
    if os.path.exists(corpus_path):
        import shutil

        shutil.rmtree(corpus_path)
    os.makedirs(corpus_path, exist_ok=True)
    n_copied = 0
    if copy_partition is None and "://" not in prev_path:
        copy_partition = _local_copy_partition
    carry = prev_partitioned and copy_partition is not None
    if carry:
        # untouched-partition list from the DATA (distinct pt, ≤
        # N_CORPUS_PARTITIONS rows), never a directory listing — the
        # same carry logic works against any store whose deployment
        # injects a server-side copy_partition (VERDICT r13 #6)
        prev_pts = sorted(
            r.pt for r in prev_staged.select("pt").distinct().collect()
        )
        for pt in prev_pts:
            if pt in touched_pts:
                continue
            copy_partition(f"{prev_path}/pt={pt}", f"{corpus_path}/pt={pt}")
            n_copied += 1
        rewrite = corpus.filter(F.col("pt").isin(touched_pts))
    else:  # flat (pre-partitioning) release N, or a remote store with
        rewrite = corpus  # no injected copy hook: full rewrite
    if touched_pts or not carry:
        rewrite.join(splits, "doc_id").write.partitionBy("pt").mode(
            "append"
        ).parquet(corpus_path)
    staged = load_table(spark, corpus_dir, "documents")
    n_curated = staged.count()
    split_counts = {
        r.split: r.n
        for r in staged.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # shards / manifest / cards / raw-manifest all derive from already-
    # written state independently — overlap them (guide §2.6; same
    # pool shape as build_release's index builds)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for done in pool.map(
            lambda f: f(),
            [
                lambda: write_training_shards(
                    spark, corpus_dir, f"{out_dir}/training"
                ),
                lambda: write_snapshot_manifest(
                    staged, f"{out_dir}/manifest"
                ),
                lambda: write_dataset_cards(
                    spark, corpus_dir, f"{out_dir}/cards"
                ),
                lambda: cur_raw.write.mode("overwrite").parquet(
                    f"{out_dir}/raw_manifest"
                ),
            ],
        ):
            pass
    n_shards = spark.read.parquet(f"{out_dir}/training/_manifest").count()

    summary = {
        "sf_dir": sf_dir,
        "prev_out": prev_out,
        "append_only": append_only,
        "n_raw_docs": sum(
            v for k, v in st_counts.items() if k != "removed"
        ),
        "n_added": n_added,
        "n_changed": n_changed,
        "n_removed": n_removed,
        "n_dedup_dropped": n_dedup_dropped,
        "n_newly_dropped": newly_dropped.count(),
        "n_newly_kept": newly_kept.count(),
        "n_flipped_boilerplate_grams": n_flipped_bp,
        "n_changed_bench_grams": n_bench_delta,
        "n_gram_affected_docs": affected.count(),
        "n_reprocessed_docs": n_reprocessed,
        "n_carried_docs": n_carried,
        "n_partitions": N_CORPUS_PARTITIONS,
        "n_partitions_rewritten": (
            len(touched_pts) if carry else N_CORPUS_PARTITIONS
        ),
        "n_partitions_copied": n_copied,
        "n_split_moved": split_moved.count(),
        "n_boilerplate_docs_touched": bp_acct.n,
        "n_boilerplate_tokens_removed": int(bp_acct.tok or 0),
        "n_decon_docs_touched": dc_acct.n,
        "n_decon_tokens_removed": int(dc_acct.tok or 0),
        "n_curated_docs": n_curated,
        "split_counts": split_counts,
        "n_shards": n_shards,
        "artifacts": sorted(
            d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))
        ),
    }
    with open(f"{out_dir}/RELEASE.json", "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    return summary


def main(argv: list[str] | None = None) -> None:
    """CLI: ``python -m synthetic_data_pipeline_spark.plans.release
    <sf_dir> <out_dir> [--from PREV_OUT]`` — the one-command analog of
    the reference's end-to-end main() (generate → postprocess →
    validate → files on disk), applied to curation: raw parquet corpus
    in, publishable release directory + RELEASE.json accounting out.
    With ``--from``, builds the release INCREMENTALLY from a previous
    release's persisted state (update_release) — the weekly-cadence
    mode."""
    import argparse

    from synthetic_data_pipeline_spark.session import get_spark

    p = argparse.ArgumentParser(
        description="Build a publishable training-data release."
    )
    p.add_argument("sf_dir", help="input corpus directory (sf_dir-shaped)")
    p.add_argument("out_dir", help="release output directory")
    p.add_argument(
        "--from", dest="prev_out", default=None, metavar="PREV_OUT",
        help="previous release directory: build incrementally from its "
        "persisted state (update_release) instead of from scratch",
    )
    p.add_argument(
        "--prev-raw", dest="prev_sf_dir", default=None, metavar="PREV_SF",
        help="raw corpus the previous release was built from (immutable "
        "snapshot): lets the edit path retract gram contributions "
        "exactly instead of recounting the corpus (only with --from)",
    )
    p.add_argument(
        "--master", default=None,
        help="Spark master (default: session factory's choice)",
    )
    args = p.parse_args(argv)
    kwargs = {"app_name": "sdp-release"}
    if args.master:
        kwargs["master"] = args.master
    spark = get_spark(**kwargs)
    if args.prev_out:
        summary = update_release(
            spark, args.prev_out, args.sf_dir, args.out_dir,
            prev_sf_dir=args.prev_sf_dir,
        )
    else:
        summary = build_release(spark, args.sf_dir, args.out_dir)
    print(json.dumps(summary, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
