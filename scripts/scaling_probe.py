"""Two-point scaling probe (BASELINE.md target #3: demonstrated linear
scaling). Synthesizes a ~10x corpus from sf0.1 — facts scaled with key
remapping, dimensions left 1x exactly as a real cluster would see them —
then times a tier-spanning query subset at both scales and writes
SCALING_r{N}.json with per-row degradation ratios (t_10x / (10 * t_1x);
<= ~1.3 is the "linear enough" bar, < 1 means fixed overheads amortize).

Scaled-table construction (one scan each, crossJoin with a 10-row copy
index — no driver loop):
- orders / lineitem: orderkey += copy * stride, so the join fan-out per
  key is IDENTICAL to 1x and only the key count grows (scale-out, not
  skew-up). o_custkey is untouched: 1x customers each own 10x orders,
  the realistic "dims don't scale with facts" shape.
- events: event_id and user_id get per-copy strides — 10x users with
  the same per-user session structure, so sessionization work scales
  linearly by construction.
- embeddings: vec_id stride + a per-copy isometry (cyclic dimension
  shift, sign-flipped once shifts exhaust) — within-copy cosines are
  preserved exactly, cross-copy vectors land in different LSH buckets,
  so the cosine near-dup tier scales out instead of turning into a
  degenerate all-twins corpus.
- documents: doc_id stride + a per-copy bijective letter substitution
  (rotations of 'etaoinshrd', 10 distinct) — WITHIN a copy every
  pairwise shingle-Jaccard is preserved (bijections rename shingles
  consistently), while ACROSS copies texts share almost no shingles, so
  the near-dup structure per row is constant and LSH candidate counts
  scale ~linearly instead of quadratically (naively unioning 10 verbatim
  copies would make every doc a 10-way near-dup cluster and measure a
  different problem).

Quadratic-by-design tiers (brute-force kNN q50, exact-pair q47) are
excluded on purpose; their scale paths (q55 IVF, q46 LSH) are included.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COPIES = 10
COPIES_2 = 100  # second decade: 100x tier on the headline subset
ALPHA = "etaoinshrd"
ALPHA_2 = "lucmfwypbg"  # disjoint from ALPHA: composed rotations stay bijective
PROBE = [
    "q01_pricing_summary",        # scan + hash agg
    "q03_regional_revenue",       # fact-fact join + broadcast dims
    "q12_top_orders_per_customer",  # per-group window
    "q45_exact_dedup",            # hash groupBy dedup
    "q46_minhash_near_dups",      # LSH banding + candidate verify
    "q92_salted_event_stats",     # salted two-level agg
    "q93_redact_documents",       # narrow per-row regex map
    "q94_token_chunks",           # explode-shaped chunking
    "q97_quality_filter",         # per-row quality signals
    "q101_deduped_corpus",        # LP clusters + anti-join materialization
    "q102_training_prep",         # composed filter→dedup→split chain
    "q104_ngram_jaccard_join",    # capped posting-list candidate join
    "q131_duplicated_spans",      # position-level 20-gram cross-doc agg
    "q132_incremental_spans",     # batch grams x persisted span index
    "q134_longest_dup_span",      # per-doc window over dup positions
    "q135_incremental_span_gate", # new grams semi-join span index + runs
    # round 9 (VERDICT r8 Next #4): the newborns never probed past 1x.
    # q129's BPE_MERGES+1 chained aggregates over the distinct-word
    # table are the compounding risk; q130 needs the isometry-scaled
    # embeddings above (time_queries clears the session state before
    # every run, so its cosine-pair funnel times a cold build)
    "q129_bpe_compression",       # stage-chained aggs over distinct words
    # round 9 newborn: the tokenizer ENCODE — corpus tokens equi-join
    # the Zipf-bounded word map (q136's vocab rides q129's probed
    # lineage; the encode join is the one new corpus-sized stage)
    "q137_bpe_encode",
    # round 9 newborn: star-contraction CC — verifies the round count
    # stays logarithmic when the candidate graph grows 10x
    "q139_cc_star_clusters",
    "q130_semantic_prune",        # cosine-pair funnel + keeper election
    "q105_decontaminate",         # broadcast benchmark-gram semi join
    "q106_repetition_signals",    # two (doc, gram) counting shuffles
    "q108_click_error_interval",  # equi-key interval join
    "q112_sequence_packing",      # two-phase global cumsum + shard agg
    "q114_stratified_sample",     # salted per-stratum top-K (no window)
    "q117_cms_heavy_hitters",     # fixed-width sketch agg + broadcast probe
    "q122_pipeline_funnel",       # capstone: funnel + decon + mixture, one reckoning
    # round 10 (VERDICT r9 Next #2): the boilerplate-removal action —
    # its positional-gram explode + covered-position rewrite is the
    # newest corpus-linear term; the stats twin rides the same lineage
    "q155_boilerplate_clean",
    "q156_boilerplate_clean_stats",
    # round 10: the cross-doc span-strip action — its owner join rides
    # the q131 dup-subset-broadcast shape, worth its own rows
    "q157_dedup_span_strip",
    # round 10 late newborns: the ingest strip (q132's semi-join class
    # + the rewrite), the decontamination strip (broadcast bench gram
    # flagging) and the matryoshka audit (bounded probe scan, linear)
    "q159_incremental_span_strip",
    "q160_decontaminate_strip",
    "q161_matryoshka_audit",
    "q162_self_repetition_strip",
    "q163_incremental_clusters",
    # round 10 (VERDICT r9 Next #3/#7): the media tier joins the
    # standard tiers — the scaled dirs carry a _MEDIA_N sentinel
    # (media_n_for), so the Arrow decode passes run over 10x items
    "q100_media_features",
    "q148_image_phash_dups",
    "q153_image_thumbnails",
    "q154_audio_features",
    # round 11: audio fingerprint dedup — one Arrow decode+fft pass,
    # q148's hash-group class, sized by the same sentinel
    "q182_audio_afp_dups",
    # round 10: fresh q152 rows in the SAME artifact as its band A/B
    "q152_simhash_hamming_join",
    # round 11: BM25's bigram posting-list join is the q104 risk
    # class (df caps bound the fan-out — the rows verify it); the
    # calibration audit rides q46's funnel plus two per-doc-minima
    # joins; drift/PII/card are corpus-linear single scans; the IVF
    # sweep is a bounded probe scan (q161's class)
    "q164_bm25_retrieval",
    "q165_minhash_calibration",
    "q166_event_drift",
    "q167_pii_density",
    "q168_ivf_probe_sweep",
    "q169_dataset_card",
    # wave 2: the agreement matrix unions both detectors' candidate
    # sets (the verify is the corpus-scaling term); retrieval decon
    # is the q164 stack with a |bench| query set
    "q170_detector_agreement",
    "q172_retrieval_decon",
    # wave 3: the threshold sweep's explode runs over the verified
    # pair list (candidate-bounded) — the row proves the sweep adds
    # nothing corpus-scaling to the funnel it rides. q173/q174 are
    # single hash-agg scans (q40's probed class) + bounded sweeps.
    "q175_dedup_threshold_sweep",
    # q178 hybrid RRF: both retrieval arms (q50's bounded probe scan +
    # q164's df-capped posting join) plus a corpus-independent fusion
    # join of two ≤ N_QUERIES·K-row ranked lists. q179 is one narrow
    # scan with two pushed filters (the export is bounded at ~2x the
    # curated feed, but the SCAN is corpus-linear — the row proves it)
    "q178_hybrid_rrf",
    "q179_quality_training_set",
    # q180: q131's positional explode + a two-level distinct to
    # per-gram doc counts; the sweep explodes over the bounded
    # (source, ndocs) histogram — the rows prove the extra distinct
    # stays in q131's scaling class
    "q180_memorization_risk",
    # q181: q109's probed ppl chain + two 1-row scalars; the row
    # proves the reweighting adds nothing corpus-scaling
    "q181_doremi_mixture",
    # q183: two range-bucketed global cumsums (q112's probed class)
    "q183_incremental_shards",
    # q184: the df-capped posting join with the MIN_SHARED floor —
    # q104's J-derived prefix doesn't transfer to containment, and the
    # containment-valid one-sided-prefix arm measured 3.8x slower for
    # identical pairs (containment_candidates docstring); the row
    # tracks the unprefixed join's cost at scale
    "q184_containment_pairs",
    # q185: per-user bounded lag window (q151's probed class) +
    # |types|^2-key agg
    "q185_transition_matrix",
    # session 2: q186 is q121's (source, token) shuffle class plus
    # vocab-bounded marginals; q187 collapses to hours×types in one
    # agg (the hour count is the only corpus term); q188's growing
    # term is the doc_id-keyed manifest SMJ (md5 projections are
    # narrow maps); q189's corpus terms are the old-side centroid agg
    # and the batch assignment fold; q190 is q111's two-pass
    # percentile class with |sources|+1 keys
    "q186_source_keyness",
    "q187_hourly_anomalies",
    "q188_snapshot_diff",
    "q189_incremental_ivf",
    "q190_calibrated_quality",
    # q191's corpus term is the band-bucket pair join (q54's probed
    # class — the isometry-scaled embeddings keep cross-copy vectors
    # out of shared buckets); q192 rides the probed LP funnel plus one
    # narrow flag projection
    "q191_label_noise",
    "q192_stage_overlap",
    # q193/q194: user-keyed shuffle classes over the scaled events
    # (10x users, same per-user structure — retention/concentration
    # work scales linearly by construction)
    "q193_cohort_retention",
    "q194_usage_concentration",
    # q195 rides the probed LP funnel; its own terms are label-keyed
    # counts over the funnel's bounded edge/label frames
    "q195_cluster_chaining",
    # q196: scan aggs + key-only anti-joins over the scaled
    # orders/lineitem — the FK build sides grow with the facts
    "q196_constraint_audit",
    # q198: two O(n·d) aggregates — the identity keeps the n²-pair
    # statistic pair-join-free at any scale
    "q198_embedding_dispersion",
    # q199: one user-keyed exp-decay agg over the scaled events
    "q199_decayed_activity",
    # q197: per-key counts over the scaled fact keys — the |keys|
    # frame grows 10x while per-key fan-out stays constant by
    # construction (the probe's key-remapping guarantees it)
    "q197_join_skew_audit",
    # round 12 newborns: q200's log-bucket agg is corpus-linear with a
    # range-bounded (NOT row-bounded) driver collect — the property the
    # probe verifies; q201's exact arm rides the q200 sketch-guided
    # order statistic since r13 (VERDICT r12 #5) — the probe now
    # measures the GK aggregate plus the picked-bucket rank, not a
    # full-sort percentile
    "q200_quantile_sketch",
    "q201_percentile_accuracy",
    # round 13 newborn: the delta-release funnel — its risk terms are
    # the distinct-gram explode (q105's class), the batch-vs-lake band
    # join (q163's class) and the old-slice cc_star; the probe watches
    # the composition
    "q203_delta_release_classes",
    # round 13 newborn: the weighted q200 sketch — same range-bounded
    # state, plus a weighted-cumsum exact arm over the picked buckets
    "q204_weighted_length_quantiles",
    # round 14 newborn: the component-local edit relabel — risk terms
    # are the prev-corpus sig build (corpus-linear), the prev pair
    # join + cc_star (q139's class) and the batch∪survivor contraction
    "q205_edit_relabel_scope",
    # round 14 wave 2: q206's corpus term is the (source, token) count
    # agg (the rank window sees only the ≤K head); q207's are the
    # trigram explode→min agg and the two-phase ntile passes; q208's
    # is the session window + co-partitioned self-join (per-session
    # fan-out alphabet-bounded); q209's is the posexplode + broadcast
    # model join feeding doc-partitioned sliding windows
    "q206_zipf_fit",
    "q207_vocab_growth",
    "q208_session_assoc",
    "q209_span_lm_anomaly",
    # wave 3: q210's corpus terms are the token/bigram hash aggs
    # (q206's class — the candidate join is vocab-bounded and floored);
    # q211's is q185's lag-window transition pass (alphabet²-bounded
    # downstream)
    "q210_pmi_collocations",
    "q211_transition_entropy",
]
# Second decade (VERDICT r5 #2): the headline subset at 100 copies —
# single timed run each, since the tier exists to catch super-linear
# blow-ups (q46's candidate join is the watch item), not microseconds.
PROBE_100 = [
    "q01_pricing_summary",
    # round 11: the BM25 posting join gets the second decade for the
    # same reason q104 has one — candidate-volume blow-up is the risk
    # the df caps exist to prevent; the PII scan is the newest
    # regex-heavy corpus-linear pass
    "q164_bm25_retrieval",
    "q167_pii_density",
    "q46_minhash_near_dups",
    "q90_flagship_sit_scan",
    "q93_redact_documents",
    "q101_deduped_corpus",
    "q102_training_prep",
    # q104's posting-list pair join is the same candidate-blow-up risk
    # class as q46's band join — watch both across two decades
    "q104_ngram_jaccard_join",
    # the packing cumsum's range buckets must keep amortizing — a
    # global-sort regression would show here first
    "q112_sequence_packing",
    # round 7 (VERDICT r6 Next #5): the four 10x-worst queries get a
    # second decade — each has a plausible super-linear risk one
    # decade can't rule out (gram-count shuffles q105/q106, interval-
    # join fan-out q108, salted top-K merge q114)
    "q105_decontaminate",
    "q106_repetition_signals",
    "q108_click_error_interval",
    "q114_stratified_sample",
    # round 8 (VERDICT r7 Next #6): the two heaviest headline queries.
    # q107's probe×corpus scan is bounded by N_QUERIES probes against
    # the 100x embeddings table (since round 9 the copies are
    # per-copy isometries, not verbatim twins — top-k per probe keeps
    # the output bounded either way); q126's gram explosion runs over
    # the 100x documents.
    "q107_quantized_knn",
    "q126_dsir_weights",
    # round 8: the newborn exact-substring diagnostic — its gram
    # explode is the largest linear term in the dedup tier
    "q131_duplicated_spans",
    # round 9 (VERDICT r8 Next #4): q129's merge-stage chain is
    # BPE_MERGES+1 aggregates whose inputs all derive from the
    # Zipf-bounded distinct-word table — two decades verify the chain
    # doesn't compound; q132's distinct-gram index build is
    # corpus-sized and worth one 100x row
    "q129_bpe_compression",
    "q132_incremental_spans",
    # round 9: the longest-span newborn — its per-doc window runs over
    # the duplicated-position subset; the 100x row verifies the window
    # input stays a small fraction of the gram table
    "q134_longest_dup_span",
    # round 9: the cosine tier at two decades — the isometry-scaled
    # embeddings keep per-copy near-dup structure constant, so the
    # hyperplane-LSH bucket funnel + Arrow verify should scale with
    # corpus size, not pair count; q55 rides along as the stated
    # 100 TB path (measured 10x cheaper per row at 100x in r9)
    "q130_semantic_prune",
    "q55_ivf_ann",
    # round 10: the removal action's gram explode at two decades (same
    # risk class as q131/q132); the media pair at 100x (6000 items)
    # probes whether the Arrow decode pass ever becomes executor-bound
    "q155_boilerplate_clean",
    "q157_dedup_span_strip",
    "q159_incremental_span_strip",
    "q160_decontaminate_strip",
    "q163_incremental_clusters",
    "q100_media_features",
    "q148_image_phash_dups",
    "q152_simhash_hamming_join",
    # session 2: the three newborns with a plausible second-decade
    # risk — q191's bucket-occupancy growth (the q54/q46 class; the
    # BLAS top-k kernel's per-bucket cost is k·chunk-bounded but
    # candidate volume still tracks occupancy²), q196's FK anti-join
    # build sides grow with the facts, q197's per-key count frames
    # grow with the key space
    "q191_label_noise",
    "q196_constraint_audit",
    "q197_join_skew_audit",
    # round 12 (VERDICT r11 #3): the five rows whose 10x ratios were
    # the round's worst without a second-decade row — q92 IS the
    # salted-agg skew path (the one most worth probing deep), q186's
    # integer cross-multiplication frame is vocab×|sources|, q03's
    # fact-fact SMJ grows on both sides, q172/q184 are posting-join
    # candidate-volume risks (q164/q104's class)
    "q92_salted_event_stats",
    "q186_source_keyness",
    "q03_regional_revenue",
    "q172_retrieval_decon",
    "q184_containment_pairs",
    # round 12 newborns at the second decade: the range-bounded
    # collect (q200) and the exact-arm growth curve (q201)
    "q200_quantile_sketch",
    "q201_percentile_accuracy",
    # round 13 (VERDICT r12 #4): the three worst 10x ratios without a
    # 100x row — q193's cohort self-join key space grows with users,
    # q178 runs BOTH retrieval arms (q164's posting-join class plus
    # the ANN probe scan), q175's sweep rides the memoized verified
    # pairs whose volume tracks candidate growth
    "q193_cohort_retention",
    "q178_hybrid_rrf",
    "q175_dedup_threshold_sweep",
    # round 13 newborns at the second decade: q203's gram explode +
    # band join composition is exactly the class the 100x tier exists
    # for; q204 rides along with q200 (same sketch family, weighted)
    "q203_delta_release_classes",
    "q204_weighted_length_quantiles",
    # round 14 newborn: same composition class as q203 (sig build +
    # band join + contraction) on the simulated-prev decade
    "q205_edit_relabel_scope",
    # round 14 wave 2 at the second decade: q207's trigram-distinct
    # state GROWS with the corpus (that growth is the very statistic
    # it measures — Heaps), and q209 is the round's heaviest new
    # corpus-linear pass (positional explode + windowed rescan)
    "q207_vocab_growth",
    "q209_span_lm_anomaly",
    # VERDICT r13 #4: the four worst 10x ratios without a 100x row —
    # q188 snapshot diff (0.292), q189 incremental IVF (0.290), q194
    # usage concentration (0.234), q199 decayed activity (0.232)
    "q188_snapshot_diff",
    "q189_incremental_ivf",
    "q194_usage_concentration",
    "q199_decayed_activity",
    # round-14 wave-3 closure of the same pattern: the worst 10x rows
    # of the r14 full run without a 100x row (q179 0.401, q182 0.292,
    # q139 0.238 — plus newborn q208 0.246). All four re-timed via
    # newborn_probe min-of-2: 100x 0.027/0.024/0.034/0.065, and the
    # 10x blips halved on the quiet re-time (amortization/VM class)
    "q179_quality_training_set",
    "q182_audio_afp_dups",
    "q139_cc_star_clusters",
    "q208_session_assoc",
]
# Media corpus sizes for the scaled tiers (media_n_for sentinel): the
# 1x base dir is read-only testdata with no sentinel, so 1x stays 60.
MEDIA_N_10X = 600
MEDIA_N_100X = 6000


def _with_copies(df: DataFrame, copies: int = COPIES) -> DataFrame:
    cp = F.broadcast(
        SparkSession.active().range(copies).withColumnRenamed("id", "copy")
    )
    return df.crossJoin(cp)


def _stride(df: DataFrame, key: str) -> int:
    return int(df.agg(F.max(key)).first()[0]) + 1


def _rot_case(col, idx, alphabet: str):
    expr = col
    for k in range(1, len(alphabet)):
        rot = alphabet[k:] + alphabet[:k]
        expr = F.when(idx == k, F.translate(col, alphabet, rot)).otherwise(expr)
    return expr


def _translate_by_copy(col, copies: int = COPIES):
    """Per-copy bijective letter substitution. Up to 10 copies: copy k
    maps ALPHA to its rotation by k (translate needs literal from/to,
    so a CASE on the copy index). Beyond 10, a second rotation keyed on
    copy//10 over the DISJOINT alphabet ALPHA_2 composes with the
    first — 10x10 distinct bijections, so even at 100 copies no two
    copies share a substitution (verbatim cross-copy duplicates would
    make every doc a copies-way near-dup cluster and measure a
    different problem than scale-out)."""
    expr = _rot_case(col, F.col("copy") % 10, ALPHA)
    if copies > 10:
        expr = _rot_case(expr, (F.col("copy") / 10).cast("long") % 10, ALPHA_2)
    return expr


def build_scaled(
    spark: SparkSession,
    src: str,
    dst: str,
    copies: int = COPIES,
    scale_tables: tuple = ("orders", "lineitem", "events", "documents"),
) -> None:
    os.makedirs(dst, exist_ok=True)
    scaled: dict[str, DataFrame] = {}

    if "orders" in scale_tables or "lineitem" in scale_tables:
        ok_stride = _stride(
            spark.read.parquet(f"{src}/orders.parquet"), "o_orderkey"
        )
    if "orders" in scale_tables:
        o_src = spark.read.parquet(f"{src}/orders.parquet")
        scaled["orders"] = _with_copies(o_src, copies).select(
            (F.col("o_orderkey") + F.col("copy") * ok_stride).alias("o_orderkey"),
            *[c for c in o_src.columns if c != "o_orderkey"],
        )
    if "lineitem" in scale_tables:
        li_src = spark.read.parquet(f"{src}/lineitem.parquet")
        scaled["lineitem"] = _with_copies(li_src, copies).select(
            (F.col("l_orderkey") + F.col("copy") * ok_stride).alias("l_orderkey"),
            *[c for c in li_src.columns if c != "l_orderkey"],
        )

    if "events" in scale_tables:
        # events stores TIMESTAMP(NANOS) — go through load_table, which
        # reads nanos-as-long and truncates to micros; the rewritten
        # copy is plain micros, which load_table passes through.
        from synthetic_data_pipeline_spark.sources.tables import load_table

        ev_src = load_table(spark, src, "events")
        eid_stride = _stride(ev_src, "event_id")
        uid_stride = _stride(ev_src, "user_id")
        scaled["events"] = _with_copies(ev_src, copies).select(
            (F.col("event_id") + F.col("copy") * eid_stride).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("copy") * uid_stride).alias("user_id"),
            "event_type", "value", "props",
        )

    if "embeddings" in scale_tables:
        # Per-copy cyclic DIMENSION shift (+ a global sign flip once the
        # 64 distinct shifts are exhausted): both are isometries, so
        # WITHIN a copy every pairwise cosine is preserved exactly,
        # while ACROSS copies vectors land in different LSH buckets —
        # the embedding-space analogue of the documents' bijective
        # letter substitution. Naively striding vec_id alone would make
        # every vector a copies-way exact twin and the cosine-pair
        # tier would measure a degenerate all-dups corpus, not
        # scale-out (q130 joined this probe in round 9).
        emb_src = spark.read.parquet(f"{src}/embeddings.parquet")
        vid_stride = _stride(emb_src, "vec_id")
        dim = len(emb_src.select("embedding").first()[0])
        shift = (F.col("copy") % dim).cast("int")
        sign = F.when(
            ((F.col("copy") / dim).cast("long") % 2) == 1, F.lit(-1.0)
        ).otherwise(F.lit(1.0))
        shifted = F.concat(
            F.slice(F.col("embedding"), shift + F.lit(1), F.lit(dim) - shift),
            F.slice(F.col("embedding"), F.lit(1), shift),
        )
        scaled["embeddings"] = _with_copies(emb_src, copies).select(
            (F.col("vec_id") + F.col("copy") * vid_stride).alias("vec_id"),
            F.transform(shifted, lambda x: (x * sign).cast("float")).alias(
                "embedding"
            ),
            "label",
        )

    if "documents" in scale_tables:
        doc_src = spark.read.parquet(f"{src}/documents.parquet")
        did_stride = _stride(doc_src, "doc_id")
        scaled["documents"] = _with_copies(doc_src, copies).select(
            (F.col("doc_id") + F.col("copy") * did_stride).alias("doc_id"),
            _translate_by_copy(F.col("text"), copies).alias("text"),
            "lang", "source", "n_chars",
        )

    for name, df in scaled.items():
        df.repartition(32).write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents",
                 "embeddings"]:
        link = f"{dst}/{name}.parquet"
        if name not in scaled and not os.path.exists(link):
            os.symlink(f"{src}/{name}.parquet", link)


def time_queries(
    spark: SparkSession, sf_dir: str, probe: list = PROBE, runs: int = 2
) -> dict[str, float]:
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.queries import all_queries

    import gc

    registry = all_queries()
    out = {}
    for name in probe:
        best = float("inf")
        for _ in range(runs):
            # cold funnel each run: the memoized LP state would turn
            # q101's second run into a consumer-only timing and hide
            # exactly the funnel scaling this probe exists to measure
            state.clear()
            # drop lingering localCheckpoint blocks from earlier
            # queries before timing — they are freed when their Python
            # handles are GC'd, and letting them pile up makes later
            # queries pay eviction/GC costs that read as (phantom)
            # super-linear scaling
            gc.collect()
            t0 = time.perf_counter()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


def pctl_ab(spark: SparkSession, sf_dir: str) -> dict:
    """Exact ``percentile`` vs ``approx_percentile`` A/B (VERDICT r11
    #4): wall-clock of each arm plus the approx arm's max relative
    value error vs exact, at this tier, over lineitem.l_extendedprice.
    This is the measurement behind every "approx_percentile is the
    100 TB drop-in" docstring (q111/q169/q187/q190/q194) — the exact
    arm buffers per-group value counts in the aggregation state (the
    thing that stops scaling), the approx arm is a fixed-size GK
    sketch. q201 is the per-round rank-error correctness gate; this is
    the cost curve."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    qs = [0.5, 0.9, 0.99]
    t0 = time.perf_counter()
    exact = li.agg(
        *[F.expr(f"percentile(x, {q!r})").alias(f"e{i}") for i, q in enumerate(qs)]
    ).collect()[0]
    exact_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    approx = li.agg(
        F.percentile_approx("x", qs, 10000).alias("a")
    ).collect()[0].a
    approx_sec = time.perf_counter() - t0
    max_rel_err = max(
        abs(approx[i] / exact[f"e{i}"] - 1) for i in range(len(qs))
    )
    return {
        "exact_sec": round(exact_sec, 3),
        "approx_sec": round(approx_sec, 3),
        "speedup_x": round(exact_sec / max(approx_sec, 1e-9), 2),
        "max_rel_err_acc10000": round(max_rel_err, 6),
    }


def simham_band_ab(spark: SparkSession, sf_dir: str) -> dict:
    """q152 band-width A/B (VERDICT r9 Next #4): the default 60-bit /
    4-band signature (15-bit bands) against a 40-bit / 4-band one
    (10-bit bands). The collision math says chance candidates scale
    ~bands·C(n,2)/2^band_bits, so the 10-bit arm should carry ~2⁵ =
    32× the chance-candidate volume — this measures that curve (and
    its runtime cost) so the knob is sized from data, not derivation,
    before a multi-billion-doc corpus needs it."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_hamming_pairs,
        simhash_sig,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    out = {}
    docs = load_table(spark, sf_dir, "documents")
    for bits, bands in ((60, 4), (40, 4)):
        t0 = time.perf_counter()
        sig = simhash_sig(docs, bits).localCheckpoint(eager=False)
        n_cand = simhash_band_candidates(sig, bits, bands).count()
        n_pairs = simhash_hamming_pairs(sig, bits, bands).count()
        out[f"bits{bits}_bands{bands}"] = {
            "band_bits": bits // bands,
            "sec": round(time.perf_counter() - t0, 3),
            "candidates": n_cand,
            "verified_pairs": n_pairs,
        }
    return out


def q130_ivf_ab(spark: SparkSession, sf_dir: str, run_verify: bool) -> dict:
    """q130 candidate-generator A/B (VERDICT r9 Next #6): the
    hyperplane-LSH pair funnel (current) vs q55's IVF coarse-quantizer
    lists (label centroids, multi-probe). With ``run_verify=False``
    only the linear assignment runs and the within-list candidate
    volume is COMPUTED from list occupancies (Σ C(occ,2)) — used at
    the 100x tier where the fixed-k IVF arm's verify is provably
    quadratic and running it would burn hours demonstrating
    arithmetic."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.similarity import (
        _as_double,
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_ivf,
        ivf_list_assignments,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    out = {}
    t0 = time.perf_counter()
    out["lsh_pairs"] = cosine_near_dup_pairs(
        emb.select("vec_id", "v")
    ).count()
    out["lsh_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    occ = (
        ivf_list_assignments(emb)
        .groupBy("sig")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("cand"))
        .first()
    )
    out["ivf_assign_sec"] = round(time.perf_counter() - t0, 3)
    out["ivf_candidates"] = int(occ["cand"])
    if run_verify:
        t0 = time.perf_counter()
        out["ivf_pairs"] = cosine_near_dup_pairs_ivf(emb).count()
        out["ivf_sec"] = round(time.perf_counter() - t0, 3)
    else:
        out["ivf_verify"] = (
            "not run: fixed-k lists make the verify quadratic "
            "(candidates above); see note_q130_ivf_ab"
        )
    return out


def main() -> None:
    from synthetic_data_pipeline_spark.session import get_spark

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dst = os.path.join(repo, ".scaling", "sf1x")
    # No default round: a silent fallback would overwrite the pinned
    # SCALING_r{N}.json of a previous round (same overwrite-artifact
    # gotcha as driver_sim's sf argument).
    round_no = os.environ.get("SPARK_GRAFT_ROUND")
    if not round_no:
        sys.exit("set SPARK_GRAFT_ROUND=<n> (refusing to guess the "
                 "artifact name and overwrite a pinned SCALING_r*.json)")
    out_path = os.path.join(repo, f"SCALING_r{round_no}.json")

    # Corpus builds in a throwaway session; each tier then times on a
    # FRESH session — shuffle files, checkpoint blocks, and JIT state
    # from one tier can't bleed into another tier's timings (observed
    # as multi-second phantom stalls on late-tier queries otherwise).
    dst100 = os.path.join(repo, ".scaling", "sf100x")
    spark = get_spark(app_name="sdp-scaling-build")

    def _build_if_stale(dst_dir: str, copies: int, scale_tables: tuple):
        # The sentinel records the BUILD PARAMS, not just existence: a
        # cached corpus built with a different table set / copy count
        # (e.g. round 6's lineitem+documents-only 100x) must NOT be
        # reused — a probe would then time 1x data while the artifact
        # reports the full tier (round-8 ADVICE).
        want = f"copies={copies} tables={','.join(sorted(scale_tables))}"
        if "embeddings" in scale_tables:
            # transform version: round 9 switched embedding copies from
            # verbatim twins to per-copy isometries — a cache built
            # before that must not be reused
            want += " embv2"
        sentinel = f"{dst_dir}/_BUILT"
        have = None
        if os.path.exists(sentinel):
            with open(sentinel) as fh:
                have = fh.read().strip()
        if have != want:
            if have is not None:
                print(f"stale cache at {dst_dir} ({have!r} != {want!r}); "
                      "rebuilding", file=sys.stderr)
                import shutil
                shutil.rmtree(dst_dir)
            build_scaled(spark, src, dst_dir, copies=copies,
                         scale_tables=scale_tables)
            with open(sentinel, "w") as fh:
                fh.write(want)

    t0 = time.perf_counter()
    _build_if_stale(dst, COPIES,
                    ("orders", "lineitem", "events", "documents",
                     "embeddings"))
    build_sec = round(time.perf_counter() - t0, 1)
    print(f"built {COPIES}x corpus in {build_sec}s -> {dst}", file=sys.stderr)
    t0 = time.perf_counter()
    # orders joined the 100x tier in round 12: q03 (fact-fact SMJ) and
    # q200 (orders-sourced sketch) got second-decade rows
    _build_if_stale(dst100, COPIES_2,
                    ("orders", "lineitem", "documents", "events",
                     "embeddings"))
    build100_sec = round(time.perf_counter() - t0, 1)
    print(f"built {COPIES_2}x corpus in {build100_sec}s -> {dst100}",
          file=sys.stderr)
    # media tier joins the standard tiers (VERDICT r9 Next #3/#7): the
    # scaled dirs carry a media_n_for sentinel; the read-only 1x base
    # stays at the default 60
    for d, n in ((dst, MEDIA_N_10X), (dst100, MEDIA_N_100X)):
        with open(os.path.join(d, "_MEDIA_N"), "w") as fh:
            fh.write(str(n))
    spark.stop()

    spark = get_spark(app_name="sdp-scaling-1x")
    t_1x = time_queries(spark, src, probe=PROBE + [n for n in PROBE_100
                                                  if n not in PROBE])
    spark.stop()
    spark = get_spark(app_name="sdp-scaling-10x")
    t_10x = time_queries(spark, dst)
    spark.stop()
    rows = {
        name: {
            "t_1x": t_1x[name],
            "t_10x": t_10x[name],
            "per_row_ratio": round(t_10x[name] / (COPIES * t_1x[name]), 3),
        }
        for name in PROBE
    }

    # Second decade: 100x on the headline subset (orders, lineitem,
    # documents, events and embeddings scale — q108 reads events,
    # q03/q200 read orders since r12; dims symlink at 1x, the
    # realistic "dims don't grow with facts" shape).
    spark = get_spark(app_name="sdp-scaling-100x")
    t_100x = time_queries(spark, dst100, probe=PROBE_100)
    rows100 = {
        name: {
            "t_1x": t_1x[name],
            "t_100x": t_100x[name],
            "per_row_ratio_100x": round(
                t_100x[name] / (COPIES_2 * t_1x[name]), 3
            ),
        }
        for name in PROBE_100
    }

    spark.stop()

    # A/B extras (round 10): q152 band widths and q130's candidate
    # generator. Decisions are RECORDED in SCALING_r10.json (keep
    # 60/4 bands; keep the LSH funnel) — re-measuring them every
    # round costs ~10 min (the 40-bit arm alone is 341 s at 100x)
    # for no new information, so the arms only run when
    # SPARK_GRAFT_AB=1 is set explicitly.
    ab = {}
    if os.environ.get("SPARK_GRAFT_AB") == "1":
        # round 12 measured the exact-vs-approx percentile cost curve
        # (SCALING_r12.json: approx 20.7×/23.6× cheaper at 10×/100×,
        # max rel err 7e-5) — a settled decision, so from r13 the arm
        # is gated like the band/IVF arms (ADVICE r12); q201 remains
        # the per-round correctness gate for the GK bound itself.
        spark = get_spark(app_name="sdp-scaling-pctl-ab")
        ab["pctl_ab_1x"] = pctl_ab(spark, src)
        ab["pctl_ab_10x"] = pctl_ab(spark, dst)
        ab["pctl_ab_100x"] = pctl_ab(spark, dst100)
        spark.stop()
        spark = get_spark(app_name="sdp-scaling-ab-1x")
        ab["simham_band_ab_1x"] = simham_band_ab(spark, src)
        ab["q130_ivf_ab_1x"] = q130_ivf_ab(spark, src, run_verify=True)
        spark.stop()
        spark = get_spark(app_name="sdp-scaling-ab-10x")
        ab["simham_band_ab_10x"] = simham_band_ab(spark, dst)
        ab["q130_ivf_ab_10x"] = q130_ivf_ab(spark, dst, run_verify=True)
        spark.stop()
        spark = get_spark(app_name="sdp-scaling-ab-100x")
        ab["simham_band_ab_100x"] = simham_band_ab(spark, dst100)
        ab["q130_ivf_ab_100x"] = q130_ivf_ab(spark, dst100,
                                             run_verify=False)
    else:
        ab["note_ab_arms"] = (
            "band/IVF A/B arms not re-run this round (decisions "
            "recorded in SCALING_r10.json: keep 60-bit/4-band "
            "SimHash, keep the LSH funnel over fixed-k IVF); set "
            "SPARK_GRAFT_AB=1 to re-measure"
        )

    result = {
        "sf_base": src,
        "copies": COPIES,
        "queries": rows,
        "max_per_row_ratio": max(r["per_row_ratio"] for r in rows.values()),
        "copies_2": COPIES_2,
        "queries_100x": rows100,
        "max_per_row_ratio_100x": max(
            r["per_row_ratio_100x"] for r in rows100.values()
        ),
        "media_n": {"1x": 60, "10x": MEDIA_N_10X, "100x": MEDIA_N_100X},
        **ab,
        "note_simham_band_ab": (
            "chance band-collisions scale ~bands*C(n,2)/2^band_bits "
            "(simhash_hamming_pairs docstring); the 40-bit/4-band arm "
            "(10-bit bands) is the measured 2^5x-candidates point of "
            "that curve vs the default 60-bit/4-band (15-bit bands). "
            "Verified-pair counts differ across arms by design (the "
            "radius is measured on different-width signatures)"
        ),
        "note_q130_ivf_ab": (
            "the IVF arm assigns every vector to its n_probe=2 nearest "
            "label-centroid lists (q55's coarse quantizer) and verifies "
            "within lists. With a FIXED list count (10 labels) the "
            "within-list candidate volume grows quadratically with the "
            "corpus — ivf_candidates is computed from measured list "
            "occupancies at every tier; the 100x verify is deliberately "
            "not run. A real IVF deployment retrains k ~ sqrt(n) lists, "
            "which the label vocabulary cannot express; the LSH funnel's "
            "equivalent (and cheap) knob is the hyperplane count, whose "
            "bucket count grows 2^(planes/bands)"
        ),
        # VERDICT r8 Next #6 — measured by scripts/span_key_ab.py (two
        # interleaved min-of-N sessions at the 10x tier, 2026-08-14):
        # the 16-byte unhex(md5) binary gram key does NOT pay on
        # local[32] — min 3.565 s (hex string) vs 3.653 s (binary),
        # i.e. a wash within noise; the halved shuffle bytes are offset
        # by the extra unhex + binary-compare CPU while shuffles stay
        # memory-local. Kept the hex string (the c60da73 pattern:
        # reverted-with-numbers); on a network-shuffle cluster the
        # binary key is worth re-measuring with the same script.
        "span_key_ab": {
            "md5_hex_str_min_sec": 3.565,
            "unhex_md5_bin_min_sec": 3.653,
            "decision": "keep md5 hex string (wash within VM noise; "
                        "re-measure on network shuffle)",
            "script": "scripts/span_key_ab.py",
        },
        "note": (
            "per_row_ratio = t_10x / (10 * t_1x); <=1 means per-row cost "
            "flat-or-better at 10x (fixed overheads amortize), the linear-"
            "scaling bar is ~1.3. per_row_ratio_100x = t_100x / (100 * "
            "t_1x) over two decades on the headline subset. Each tier "
            "runs min-of-2 on its own fresh SparkSession; the LP funnel "
            "cache is cleared before every run at every scale"
        ),
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
