"""Unit tests for the round-6 training-pipeline operators: capped
inverted-index Jaccard join (q104), benchmark decontamination (q105),
repetition signals (q106), quantized-kNN recall audit (q107), and the
click→error interval join (q108). The oracle gate proves engine parity;
these prove the SEMANTICS on crafted inputs the driver corpus can't
exercise (planted dups, known contamination, degenerate repetition)."""

from __future__ import annotations

from pyspark.sql import functions as F

from synthetic_data_pipeline_spark.operators.dedup import (
    distinct_shingles,
    inverted_index_candidates,
    token_jaccard,
)
from synthetic_data_pipeline_spark.operators.events import (
    INTERVAL_HOURS,
    q108_click_error_interval,
)
from synthetic_data_pipeline_spark.operators.similarity import (
    q107_quantized_knn,
)
from synthetic_data_pipeline_spark.operators.textops import (
    decontaminate_by_source,
    repetition_doc_signals,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the river runs "
    "slowly past the quiet mill and the miller watches the water turn "
    "the old wheel beneath a pale morning sky"
)


def test_inverted_index_finds_planted_dups(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate
        (2, BASE.replace("pale morning", "grey evening")),  # near-dup
        (3, "completely different content about spark shuffles and "
            "partitions and adaptive query execution plans at scale"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tokens = distinct_shingles(docs)
    cands = inverted_index_candidates(tokens)
    pairs = {(r.doc_a, r.doc_b) for r in cands.collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    # doc 3 shares no shingle with anything → never a candidate
    assert all(3 not in p for p in pairs)
    jac = {(r.doc_a, r.doc_b): r.jaccard
           for r in token_jaccard(tokens, cands).collect()}
    assert jac[(0, 1)] == 1.0
    assert 0.5 < jac[(0, 2)] < 1.0


def test_inverted_index_df_cap_drops_stop_shingles(spark):
    # 30 docs all sharing one ubiquitous shingle (df=30 > cap) plus a
    # unique tail → with df_cap=20 the shared shingle is a stop-gram
    # and generates NO candidate pairs.
    rows = [(i, f"alpha beta gamma unique{i} tail{i} end{i}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tokens = distinct_shingles(docs)
    # min_shared=1 isolates the df-cap behavior from the count filter
    assert (
        inverted_index_candidates(tokens, df_cap=20, min_shared=1).count() == 0
    )
    # raising the cap above 30 re-admits it
    assert (
        inverted_index_candidates(tokens, df_cap=64, min_shared=1).count()
        == 30 * 29 / 2
    )
    # ...and the count filter alone kills these 1-shared-shingle pairs
    assert (
        inverted_index_candidates(tokens, df_cap=64, min_shared=5).count() == 0
    )


def test_decontaminate_flags_copied_ngram(spark):
    bench_text = "zeta eta theta iota kappa lambda mu nu xi"
    rows = [
        (0, "bench", bench_text),
        (1, "train_a", "alpha beta gamma delta " + bench_text),  # copies 4-grams
        (2, "train_a", "one two three four five six seven eight nine"),
        (3, "train_b", "ten eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in
           decontaminate_by_source(docs, n=4, bench_source="bench").collect()}
    assert out["train_a"].n_docs == 2
    assert out["train_a"].n_contaminated == 1
    assert out["train_a"].n_shared_grams == 6  # 9-token copy → 6 4-grams
    assert out["train_b"].n_contaminated == 0
    assert out["train_b"].contamination_rate == 0.0


def test_repetition_signals_flag_degenerate_text(spark):
    rows = [
        (0, "s", " ".join(["spam"] * 40)),               # fully degenerate
        (1, "s", " ".join(f"w{i}" for i in range(40))),  # fully diverse
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sig = {r.doc_id: r for r in repetition_doc_signals(docs).collect()}
    assert sig[0].ttr == 1 / 40 and sig[0].top_tok_frac == 1.0
    assert sig[0].top_bigram_frac == 39 * 2 / 40
    assert sig[1].ttr == 1.0 and sig[1].top_tok_frac == 1 / 40
    assert sig[1].top_bigram_frac == 2 / 40


def test_quantized_knn_recall_monotone_in_levels(spark, sf_dir):
    rows = q107_quantized_knn(spark, sf_dir).collect()
    by_level: dict[int, dict[int, float]] = {}
    for r in rows:
        by_level.setdefault(r.levels, {})[r.query_id] = r.recall
        assert 0.0 <= r.recall <= 1.0
        assert r.avg_abs_cos_err >= 0.0
    assert set(by_level) == {255, 15}
    # int8 can't be worse than int4 on average (finer grid)
    avg = {lv: sum(d.values()) / len(d) for lv, d in by_level.items()}
    assert avg[255] >= avg[15]


def test_interval_join_latencies_bounded(spark, sf_dir):
    rows = q108_click_error_interval(spark, sf_dir).collect()
    assert rows, "expected at least one user with click→error pairs"
    limit = INTERVAL_HOURS * 3600
    for r in rows:
        assert r.n_pairs >= 1
        assert 0 < r.min_latency_sec <= r.avg_latency_sec <= r.max_latency_sec
        assert r.max_latency_sec <= limit


def test_interval_join_pair_count_matches_sql(spark, sf_dir):
    got = (
        q108_click_error_interval(spark, sf_dir)
        .agg(F.sum("n_pairs").alias("n"))
        .collect()[0]
        .n
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ev_q108")
    want = spark.sql(
        f"""
        SELECT count(*) AS n
        FROM (SELECT user_id, ts FROM ev_q108 WHERE event_type = 'click') c
        JOIN (SELECT user_id, ts FROM ev_q108 WHERE event_type = 'error') e
          ON e.user_id = c.user_id
         AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL {INTERVAL_HOURS} HOURS
        """
    ).collect()[0].n
    assert got == want


def test_perplexity_orders_repetitive_below_diverse(spark):
    """Corpus-fit bigram ppl: a doc repeating one bigram must score a
    LOWER pseudo-perplexity than a doc of never-repeated bigrams."""
    from synthetic_data_pipeline_spark.operators.textops import (
        q109_perplexity_proxy,
    )
    from synthetic_data_pipeline_spark.sources import tables

    rows = [
        (0, "rep", " ".join(["spam"] * 30)),
        (1, "div", " ".join(f"w{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text"))
    docs.createOrReplaceTempView("_ppl_docs")

    orig = tables.load_table
    try:
        tables.load_table = lambda sp, sf, name: (
            sp.table("_ppl_docs") if name == "documents"
            else orig(sp, sf, name)
        )
        import synthetic_data_pipeline_spark.operators.textops as t

        orig_t = t.load_table
        t.load_table = tables.load_table
        try:
            out = {r.source: r for r in
                   q109_perplexity_proxy(spark, "unused").collect()}
        finally:
            t.load_table = orig_t
    finally:
        tables.load_table = orig
    assert out["rep"].avg_ppl < out["div"].avg_ppl
    # the all-repeat doc's bigram is near-certain under the model
    assert out["rep"].avg_ppl < 5.0


def test_embedding_outlier_detected(spark):
    """A planted far vector inside an otherwise tight label must be
    flagged; a label with mild spread must not flag anything."""
    from synthetic_data_pipeline_spark.operators import similarity as sim

    rows = []
    # label 0: 12 tight vectors + one at 10x distance
    for i in range(12):
        rows.append((i, [1.0 + 0.01 * i, 0.0, 0.0, 0.0], 0))
    rows.append((12, [-10.0, 0.0, 0.0, 0.0], 0))
    # label 1: mild spread, no outlier
    for i in range(8):
        rows.append((100 + i, [0.0, 1.0 + 0.05 * i, 0.0, 0.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    emb.createOrReplaceTempView("_out_emb")

    orig = sim.load_table
    sim.load_table = lambda sp, sf, name: (
        sp.table("_out_emb") if name == "embeddings" else orig(sp, sf, name)
    )
    try:
        out = {r.label: r for r in
               sim.q110_embedding_outliers(spark, "unused").collect()}
    finally:
        sim.load_table = orig
    assert out[0].n_vecs == 13 and out[0].n_outliers >= 1
    assert out[0].max_z > sim.Z_OUTLIER
    assert out[1].n_outliers == 0


def test_adaptive_quality_drops_top_decile(spark):
    """The percentile threshold adapts to the corpus: with 20 docs of
    distinct ppl, a 0.9 quantile cutoff drops exactly the 2 most
    improbable docs — regardless of their absolute ppl values."""
    import synthetic_data_pipeline_spark.operators.textops as t

    # doc i repeats a fixed bigram i times then adds unique tail words:
    # more unique tails -> higher ppl; all 20 ppl values distinct
    rows = []
    for i in range(20):
        text = ("common pair " * 3) + " ".join(f"u{i}x{j}" for j in range(i + 2))
        rows.append((i, f"s{i % 4}", text))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    docs.createOrReplaceTempView("_aq_docs")
    orig = t.load_table
    t.load_table = lambda sp, sf, name: (
        sp.table("_aq_docs") if name == "documents" else orig(sp, sf, name)
    )
    try:
        out = t.q111_adaptive_quality(spark, "unused").collect()
    finally:
        t.load_table = orig
    assert sum(r.n_docs for r in out) == 20
    assert sum(r.n_dropped for r in out) == 2
    thr = {r.ppl_threshold for r in out}
    assert len(thr) == 1, "threshold must be global, not per source"


def test_dsir_ranks_target_like_doc_first(spark):
    """DSIR importance weights (q126's core): a raw doc written in the
    TARGET domain's vocabulary must outscore raw docs from a disjoint
    vocabulary — the defining property of importance resampling."""
    from synthetic_data_pipeline_spark.operators.textops import dsir_weights

    target_text = "alpha beta gamma delta alpha beta gamma delta"
    noise = "zig zag quux corge grault zag zig quux corge grault"
    rows = (
        [(i, "bench", target_text) for i in range(5)]
        + [(100, "raw", target_text)]
        + [(200 + i, "raw", noise + f" filler{i}") for i in range(6)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = dsir_weights(docs, bench_source="bench", top_k=10).collect()
    assert out[0].doc_id == 100, [(r.doc_id, r.log_weight) for r in out]
    assert out[0].log_weight > out[-1].log_weight
    assert all(r.source != "bench" for r in out)


def test_leakage_matrix_partitions_near_dup_pairs(spark, sf_dir):
    """q127 is an attribution of q46's verified pairs: matrix pair
    counts must sum to exactly the q46 near-dup pair count, and every
    (source_a, source_b) key must be normalized (a <= b)."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        q46_minhash_near_dups,
        q127_leakage_matrix,
    )

    matrix = q127_leakage_matrix(spark, sf_dir).collect()
    n_q46 = q46_minhash_near_dups(spark, sf_dir).count()
    assert sum(r.n_dup_pairs for r in matrix) == n_q46
    assert all(r.source_a <= r.source_b for r in matrix)
    assert all(0 < r.avg_jaccard <= r.max_jaccard + 1e-9 for r in matrix)


def _bpe_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_merges_planted_corpus(spark):
    """q128 on a corpus whose first three merges are hand-computable:
    'banana'×3 + 'bandana'×1 give pair counts  a·n=8, n·a=7, b·a=4 →
    merge 1 = 'a n'(8); after rewriting, 'an a' and 'b an' tie at 4
    and the (count desc, pair asc) total order picks 'an a'; then
    'b an' wins round 3 at 4."""
    from synthetic_data_pipeline_spark.operators.textops import (
        bpe_merge_rules,
    )

    docs = _bpe_docs(spark, ["banana banana banana", "bandana"])
    got = [
        (r.merge_rank, r.pair, r.n_occurrences)
        for r in bpe_merge_rules(docs, n_merges=3).collect()
    ]
    assert got == [(1, "a n", 8), (2, "an a", 4), (3, "b an", 4)]


def test_bpe_merge_rewrite_is_greedy_nonoverlapping(spark):
    """The padded-replace rewrite must merge ALL leftmost-
    non-overlapping occurrences like reference BPE: 'aaaa' symbolizes
    to 'a a a a', and merging 'a a' must yield 'aa aa' (both pairs),
    not 'aa a a' (adjacent occurrence skipped because the shared
    boundary space was consumed). Round 2's top pair 'aa aa' is only
    reachable through the correct rewrite."""
    from synthetic_data_pipeline_spark.operators.textops import (
        bpe_merge_rules,
    )

    docs = _bpe_docs(spark, ["aaaa aaaa"])
    got = [
        (r.merge_rank, r.pair, r.n_occurrences)
        for r in bpe_merge_rules(docs, n_merges=2).collect()
    ]
    assert got == [(1, "a a", 6), (2, "aa aa", 2)]


def test_bpe_compression_curve_planted(spark):
    """q129 on the hand-computable corpus: 'banana'×3 + 'bandana'
    tokenize to 25 char symbols; the three learned merges (a·n, an·a,
    b·an — see test_bpe_merges_planted_corpus) compress the corpus to
    17, 13, then 9 symbols."""
    from synthetic_data_pipeline_spark.operators.textops import (
        bpe_compression_curve,
    )

    docs = _bpe_docs(spark, ["banana banana banana", "bandana"])
    got = [
        (r.merges_applied, r.n_words, r.total_symbols,
         r.avg_symbols_per_word)
        for r in bpe_compression_curve(docs).collect()
    ]
    assert got == [
        (0, 4, 25, 6.25),
        (1, 4, 17, 4.25),
        (2, 4, 13, 3.25),
        (3, 4, 9, 2.25),
    ]


def test_bpe_vocab_planted(spark):
    """q136 on the hand-computable corpus: after the three merges
    (a·n, an·a, b·an), banana = 'ban ana' (×3 words) and bandana =
    'ban d ana', so symbol totals are ana=4, ban=4, d=1 and the
    (count desc, symbol asc) ranking assigns ids 1, 2, 3."""
    from synthetic_data_pipeline_spark.operators.textops import bpe_vocab

    docs = _bpe_docs(spark, ["banana banana banana", "bandana"])
    got = [
        (r.token_id, r.symbol, r.n_occurrences)
        for r in bpe_vocab(docs).collect()
    ]
    assert got == [(1, "ana", 4), (2, "ban", 4), (3, "d", 1)]


def test_bpe_encode_planted(spark):
    """q137 with doc_mod=1 on the planted corpus: banana encodes to
    'ban ana' = ids '2 1' per word; bandana to 'ban d ana' = '2 3 1'.
    Symbol order inside and across words must be preserved."""
    from synthetic_data_pipeline_spark.operators.textops import (
        bpe_encode_docs,
    )

    docs = _bpe_docs(spark, ["banana banana banana", "bandana"])
    got = {
        r.doc_id: (r.n_tokens, r.token_ids)
        for r in bpe_encode_docs(docs, doc_mod=1).collect()
    }
    assert got == {0: (6, "2 1 2 1 2 1"), 1: (3, "2 3 1")}


def test_bpe_encode_roundtrip_sf(spark, sf_dir):
    """Decode(encode(doc)) recovers every sampled document's exact
    character stream: mapping token ids back to vocab symbols and
    concatenating (word boundaries vanish — merges only ever delete
    separators) must equal the doc's whitespace-stripped lowercase
    text. Lossless-encode property on real data, not a planted toy."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.textops import (
        bpe_encode_docs,
        bpe_vocab,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    id2sym = {
        r.token_id: r.symbol for r in bpe_vocab(docs).collect()
    }
    encoded = bpe_encode_docs(docs).collect()
    assert encoded, "sample must be non-empty"
    expected = {
        r.doc_id: r.flat
        for r in docs.filter((F.col("doc_id") % 20) == 0)
        .select(
            "doc_id",
            F.regexp_replace(
                F.lower(F.trim("text")), r"\s+", ""
            ).alias("flat"),
        )
        .collect()
    }
    for row in encoded:
        decoded = "".join(
            id2sym[int(t)] for t in row.token_ids.split(" ")
        )
        assert decoded == expected[row.doc_id], row.doc_id


def test_tokenizer_fertility_directional(spark):
    """A language whose whole corpus is one heavily-repeated 4-char
    word compresses to ~1 symbol/word after 3 merges, while a language
    of unmergeable all-distinct rare words stays at 4 symbols/word —
    fertility must rank them accordingly, and the token/word/char
    accounting identities must hold exactly."""
    from synthetic_data_pipeline_spark.operators.textops import (
        tokenizer_fertility,
    )

    rows = [(i, "zzzz zzzz zzzz zzzz zzzz", "aa") for i in range(6)]
    rows += [(100, "wxyq kjfd mbtv", "bb")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.lang: r for r in tokenizer_fertility(docs).collect()}
    # merges: z z -> zz, zz zz -> zzzz (dominant pair at every stage)
    assert got["aa"].n_words == 30 and got["aa"].n_tokens == 30
    assert abs(got["aa"].fertility - 1.0) < 1e-3
    # merges 1+2 are spent on the dominant z-pairs; merge 3 falls to
    # the alphabetically-first count-1 pair 'b t', so 'mbtv' encodes as
    # 3 symbols and the other two rare words stay at 4: 4+4+3 = 11
    assert got["bb"].n_words == 3 and got["bb"].n_tokens == 11
    assert abs(got["bb"].fertility - round(11 / 3, 4)) < 1e-3
    assert got["aa"].fertility < got["bb"].fertility
    # chars/token identity: aa 4 chars per 1 token, bb 12 chars/11 toks
    assert abs(got["aa"].chars_per_token - 4.0) < 1e-3
    assert abs(got["bb"].chars_per_token - round(12 / 11, 4)) < 1e-3


def test_centroid_similarity_planted(spark):
    """Three labels with hand-picked centroids: 0 -> (1,0), 1 -> (0,1),
    2 -> (1,0) via averaging (2,0) and (0,0). Cosine must be 0 for the
    orthogonal pairs and 1 for the collapsed pair; l2 confirms which
    pair is literally identical."""
    from synthetic_data_pipeline_spark.operators.similarity import (
        centroid_similarity,
    )

    rows = [
        (0, [1.0, 0.0]),
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [2.0, 0.0]),
        (2, [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "label int, v array<double>")
    got = {
        (r.label_a, r.label_b): (r.cosine, r.l2_dist)
        for r in centroid_similarity(emb).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert abs(got[(0, 1)][0] - 0.0) < 1e-3
    assert abs(got[(0, 2)][0] - 1.0) < 1e-3
    assert abs(got[(1, 2)][0] - 0.0) < 1e-3
    assert abs(got[(0, 2)][1] - 0.0) < 1e-3  # collapsed pair: l2 == 0


def test_corpus_diversity_hand_computed(spark):
    """Template source (10 identical 'a b a b' docs) vs diverse source
    (every word unique): corpus-level TTR and distinct-2 are exact
    hand-computable fractions, and the diverse source maxes out both."""
    from synthetic_data_pipeline_spark.operators.textops import (
        corpus_diversity,
    )

    rows = [(i, "a b a b", "tmpl") for i in range(10)]
    rows += [(100 + i, f"w{4 * i} w{4 * i + 1} w{4 * i + 2} w{4 * i + 3}",
              "div") for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = {r.source: r for r in corpus_diversity(docs).collect()}
    t = got["tmpl"]
    assert (t.n_docs, t.n_unigrams, t.distinct_unigrams) == (10, 40, 2)
    assert abs(t.ttr_corpus - 0.05) < 1e-3
    # per doc bigrams: 'a b', 'b a', 'a b' -> 30 total, 2 distinct
    assert (t.n_bigrams, t.distinct_bigrams) == (30, 2)
    assert abs(t.distinct2 - round(2 / 30, 4)) < 1e-3
    d = got["div"]
    assert d.distinct_unigrams == d.n_unigrams == 20
    assert abs(d.ttr_corpus - 1.0) < 1e-3 and abs(d.distinct2 - 1.0) < 1e-3
    assert d.ttr_corpus > t.ttr_corpus and d.distinct2 > t.distinct2


def test_cluster_representatives_planted(spark):
    """Hand-built clusters: in cluster 1 the HIGHEST-distinct-token
    member (doc 3) must replace the min-id keeper (doc 1) and the gain
    is exact; in cluster 10 both members tie on quality so the min-id
    member keeps its seat and the gain is zero."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        cluster_representatives,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b", "s1"),            # q=2
            (2, "a b c", "s1"),              # q=3
            (3, "a b c d e", "s2"),          # q=5  <- quality keeper
            (10, "x y z", "s3"),             # q=3  <- min-id tie keeper
            (11, "p q r", "s3"),             # q=3
            (99, "unclustered text here", "s4"),  # not in any cluster
        ],
        "doc_id long, text string, source string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "node long, label long",
    )
    got = {r.source: r for r in cluster_representatives(docs, labels).collect()}
    assert set(got) == {"s2", "s3"}  # grouped by KEEPER source; s4 absent
    s2 = got["s2"]
    assert (s2.n_clusters, s2.n_upgrades) == (1, 1)
    assert abs(s2.avg_quality_gain - 3.0) < 1e-3  # q 5 vs min-id q 2
    assert abs(s2.avg_keeper_quality - 5.0) < 1e-3
    s3 = got["s3"]
    assert (s3.n_clusters, s3.n_upgrades) == (1, 0)
    assert abs(s3.avg_quality_gain - 0.0) < 1e-3


def test_cluster_aware_split_no_straddling(spark, sf_dir):
    """The leakage-freedom invariant on real data: every near-dup
    cluster's members land in EXACTLY one split (q96's doc-hash split
    provably straddles some cluster on the same corpus — that contrast
    is the operator's reason to exist)."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        _cluster_labels,
        cluster_split_assignments,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir)
    asg = cluster_split_assignments(docs, labels)
    straddling = (
        asg.filter("clustered")
        .groupBy("gkey")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert straddling == 0
    # contrast: doc-hash split DOES straddle at least one cluster here
    from synthetic_data_pipeline_spark.functions.xsql import (
        expand_u16,
        hash_u16,
    )

    bucket = expand_u16(hash_u16("CAST(doc_id AS STRING)", "split"), "spark")
    doc_split = asg.selectExpr(
        "gkey", "clustered", f"({bucket} % 10) AS b"
    )
    doc_straddling = (
        doc_split.filter("clustered")
        .groupBy("gkey")
        .agg(F.count_distinct(
            F.when(F.col("b") < 8, "train")
            .when(F.col("b") == 8, "val")
            .otherwise("test")
        ).alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert doc_straddling > 0


def test_cluster_aware_split_conservation(spark, sf_dir):
    """Split sizes conserve the corpus and every clustered doc is
    counted: sum(n_docs) == |documents|, sum(n_clustered_docs) ==
    |label table|."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        _cluster_labels,
        q145_cluster_aware_split,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    rows = q145_cluster_aware_split(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    n_labeled = _cluster_labels(spark, sf_dir).count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_clustered_docs for r in rows) == n_labeled


def test_weighted_sample_matches_python_reference(spark):
    """A-ES selection replicated in pure Python (same md5 counter-mode
    u, same ln(u)/w key, same 6dp rounding + doc_id tiebreak) must pick
    the same ranked docs — and a doc with overwhelming weight must
    outrank every light doc (its key sits ~w x closer to zero)."""
    import hashlib
    import math

    from synthetic_data_pipeline_spark.operators.assembly import (
        weighted_sample,
    )

    rows = [(i, "s", 50 + 7 * i) for i in range(1, 30)]
    rows.append((99, "s", 10_000_000))  # overwhelming weight
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")

    def key(doc_id, w):
        h = int(hashlib.md5(f"{doc_id}:wsample".encode()).hexdigest()[:4], 16)
        u = (h + 0.5) / 65536.0
        x = math.log(u) / float(w)
        return round(x + 1e-6 + abs(x) * 1e-12, 6)  # the eround formula

    want = sorted(rows, key=lambda r: (-key(r[0], r[2]), r[0]))[:8]
    got = [
        (r.doc_id, r.weight)
        for r in weighted_sample(docs).orderBy("rk").collect()
    ]
    assert got == [(d, w) for d, _, w in want]
    assert got[0][0] == 99  # the heavy doc wins rank 1


def test_boilerplate_grams_planted(spark):
    """A source whose every doc carries the same footer must flag the
    footer's 4-grams (DF == n_docs >= threshold) and report full doc
    coverage; a source of all-unique docs reports zero. Threshold is
    max(2, ceil(n/20)) — with 3 docs that is 2, so the 2-doc overlap
    in the mixed source also flags."""
    from synthetic_data_pipeline_spark.operators.textops import (
        boilerplate_grams,
    )

    footer = "copyright acme corp all rights reserved"
    rows = [(i, f"unique{i} words{i} body{i} text{i} " + footer, "bp")
            for i in range(3)]
    rows += [(10 + i, f"w{9 * i} w{9 * i + 1} w{9 * i + 2} w{9 * i + 3} "
              f"w{9 * i + 4} w{9 * i + 5}", "clean") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in boilerplate_grams(docs).collect()}
    bp = got["bp"]
    # the shared footer contributes 3 sliding 4-grams + the one
    # straddling gram is doc-specific (unique prefix), so exactly the
    # 3 all-doc grams cross DF >= 3... threshold is max(2, 1) = 2
    assert bp.n_bp_grams == 3
    assert bp.n_docs_with_bp == 3 and abs(bp.bp_doc_share - 1.0) < 1e-3
    assert bp.n_bp_hits == 9  # 3 grams x 3 docs
    clean = got["clean"]
    assert clean.n_bp_grams == 0 and clean.bp_doc_share == 0.0


def test_boilerplate_clean_strips_footer_keeps_organic(spark):
    """The q155 ACTION: a planted shared footer must vanish from every
    touched doc's clean_text while the organic prefix survives
    verbatim; an all-unique source must not appear in the per-doc
    output at all, and the q156 accounting must reconcile exactly."""
    from synthetic_data_pipeline_spark.operators.textops import (
        boilerplate_clean,
        boilerplate_clean_stats,
    )

    footer = "copyright acme corp all rights reserved"
    prefixes = [f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(3)]
    rows = [(i, f"{prefixes[i]} {footer}", "bp") for i in range(3)]
    rows += [(10 + i, f"w{9 * i} w{9 * i + 1} w{9 * i + 2} w{9 * i + 3} "
              f"w{9 * i + 4} w{9 * i + 5}", "clean") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    cleaned = {r.doc_id: r for r in boilerplate_clean(docs).collect()}
    # only the footer source's docs are touched
    assert set(cleaned) == {0, 1, 2}
    for i in range(3):
        r = cleaned[i]
        # the whole 6-token footer is covered by its three 4-grams;
        # the organic 4-token prefix survives verbatim
        assert r.clean_text == prefixes[i]
        assert r.tokens_before == 10 and r.tokens_removed == 6
        assert footer.split()[0] not in r.clean_text

    stats = {r.source: r for r in boilerplate_clean_stats(docs).collect()}
    bp = stats["bp"]
    assert bp.docs_touched == 3 and bp.tokens_removed == 18
    assert bp.tokens_total == 30
    assert abs(bp.removed_share - 0.6) < 1e-3
    clean = stats["clean"]
    assert clean.docs_touched == 0 and clean.tokens_removed == 0
    assert clean.removed_share == 0.0


def test_decontaminate_strip_planted(spark):
    """The q160 ACTION: a train doc containing a benchmark 4-gram must
    lose exactly the covered positions while its organic text survives
    verbatim; benchmark docs and non-overlapping train docs are never
    rewritten."""
    from synthetic_data_pipeline_spark.operators.textops import (
        decontaminate_strip,
    )

    leak = "what is the capital of france"  # 6 tokens -> 3 grams
    rows = [
        (0, f"benchmark question one {leak}", "src0"),       # the bench
        (1, f"alpha beta gamma delta {leak} epsilon zeta", "web"),
        (2, "totally original words nothing shared here at all", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in decontaminate_strip(docs).collect()}
    assert set(out) == {1}  # bench doc 0 and clean doc 2 untouched
    r = out[1]
    # grams starting inside the leak cover exactly its 6 tokens; the
    # straddling grams (organic prefix x leak) are not benchmark grams
    assert r.clean_text == "alpha beta gamma delta epsilon zeta"
    assert r.tokens_before == 12 and r.tokens_removed == 6


def test_matryoshka_audit_full_dim_is_identity(spark, sf_dir):
    """q161 sanity: ranking by the full 64-dim prefix IS the full
    ranking — recall exactly 1, error exactly 0 — and every truncated
    row reports a recall in [0, 1] with a nonnegative error (the
    hash-matched oracle pins the actual values; this pins the
    invariants on a second corpus)."""
    from synthetic_data_pipeline_spark.operators.similarity import (
        EMB_DIM,
        MRL_DIMS,
        _as_double,
        matryoshka_audit,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    rows = {r.prefix_dim: r for r in matryoshka_audit(emb).collect()}
    assert set(rows) == set(MRL_DIMS)
    assert rows[EMB_DIM].avg_recall == 1.0
    assert rows[EMB_DIM].avg_cos_err == 0.0
    for k in MRL_DIMS:
        assert 0.0 <= rows[k].avg_recall <= 1.0
        assert rows[k].avg_cos_err >= 0.0


def test_bigram_lm_export_reproduces_ppl(spark):
    """The exported LM table is SUFFICIENT: recomputing each doc's
    pseudo-perplexity from the (bigram -> p_smooth) artifact alone
    must reproduce doc_perplexity's score — the property that makes
    q149 a real train-side artifact rather than a report."""
    import math

    from synthetic_data_pipeline_spark.operators.textops import (
        bigram_lm_export,
        doc_perplexity,
    )

    rows = [
        (0, "s", "aa bb aa bb cc"),
        (1, "s", "aa bb cc dd ee"),
        (2, "s", "cc cc cc aa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    p = {r.bigram: r.p_smooth for r in bigram_lm_export(docs, k=100).collect()}
    want = {r.doc_id: r.ppl for r in doc_perplexity(docs).collect()}
    for doc_id, _s, text in rows:
        toks = text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        ppl = math.exp(-sum(math.log(p[b]) for b in bgs) / len(bgs))
        assert abs(ppl - want[doc_id]) < 1e-3, doc_id


def test_bot_signals_metronome_ranks_first(spark, monkeypatch):
    """A metronome bot (one event type, exactly-60s gaps -> CV 0,
    entropy 0) must outrank organic users with jittered gaps and mixed
    types; users under the event floor never appear."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    eid = 0
    for i in range(15):  # the bot: user 1
        rows.append((eid, t0 + dt.timedelta(seconds=60 * i), 1, "ping", 1.0,
                     "{}"))
        eid += 1
    jitter = [37, 11, 93, 55, 8, 71, 29, 64, 17, 45, 82, 23, 58, 90]
    acc = 0
    for i, j in enumerate(jitter):  # organic: user 2, irregular + mixed
        acc += j
        rows.append((eid, t0 + dt.timedelta(seconds=acc), 2,
                     ["click", "view", "error"][i % 3], 1.0, "{}"))
        eid += 1
    rows.append((eid, t0, 3, "click", 1.0, "{}"))  # under the floor
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_bot_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_bot_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = ev_mod.q151_bot_signals(spark, "unused").collect()
    assert [r.user_id for r in got] == [1, 2]  # user 3 under the floor
    bot, organic = got[0], got[1]
    assert bot.rk == 1 and abs(bot.gap_cv) < 1e-4
    assert abs(bot.type_entropy) < 1e-3
    assert organic.gap_cv > 0.3 and organic.type_entropy > 0.9


def test_bm25_planted_ranking(spark, tmp_path):
    """q164 semantics on a planted corpus: the query doc (id 0) shares
    its one ELIGIBLE bigram ('alpha beta' — df 3 exactly at the n/20
    relative cap) with two docs; the doc carrying it twice must outrank
    the doc carrying it once (tf saturation still monotone), and no
    filler doc (all-unique bigrams, df 1 < DF_MIN) may appear."""
    from synthetic_data_pipeline_spark.operators.textops import (
        q164_bm25_retrieval,
    )

    rows = [
        (0, "alpha beta x0a x0b x0c", "en", "s", 0),
        (1, "alpha beta q1 alpha beta", "en", "s", 0),
        (2, "alpha beta r1 r2 r3", "en", "s", 0),
    ]
    rows += [
        (3 + i, f"f{i}a f{i}b f{i}c f{i}d f{i}e", "en", "s", 0)
        for i in range(57)
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = q164_bm25_retrieval(spark, sf_dir).collect()
    assert {r.query_id for r in got} == {0}
    ranked = [(r.rk, r.doc_id) for r in sorted(got, key=lambda r: r.rk)]
    assert ranked == [(1, 1), (2, 2)]  # tf=2 doc first, tf=1 second
    scores = {r.doc_id: r.score for r in got}
    assert scores[1] > scores[2] > 0


def test_event_drift_planted_day(spark, tmp_path):
    """q166 semantics: 9 calm days with an even type mix plus one day
    that is 100% 'error' — only the skewed day may carry drifted=1,
    and its KL must dominate every calm day's."""
    import datetime as dtm

    from synthetic_data_pipeline_spark.operators.events import (
        q166_event_drift,
    )

    rows = []
    eid = 0
    types = ["click", "view", "error", "purchase"]
    for d in range(9):
        for i in range(40):
            rows.append(
                (eid, dtm.datetime(2024, 3, 1 + d, i % 24, 0, 0),
                 i % 7, types[i % 4], 1.0, "{}")
            )
            eid += 1
    for i in range(40):  # day 10: all errors
        rows.append(
            (eid, dtm.datetime(2024, 3, 10, i % 24, 0, 0),
             i % 7, "error", 1.0, "{}")
        )
        eid += 1
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")

    got = {r.day: r for r in q166_event_drift(spark, sf_dir).collect()}
    assert len(got) == 10
    bad = got["2024-03-10"]
    assert bad.drifted == 1 and bad.n_types == 1
    for day, r in got.items():
        if day != "2024-03-10":
            assert r.drifted == 0
            assert r.kl_vs_corpus < bad.kl_vs_corpus


def test_dataset_card_planted(spark, tmp_path):
    """q169 semantics on a crafted source: 4 docs where two are exact
    duplicates modulo whitespace (dup_share 0.25), langs split 2/2
    (top_lang = min on the tie), and token lengths 2,4,6,6 giving
    exact interpolated percentiles p50=5.0, p90=6.0."""
    from synthetic_data_pipeline_spark.operators.textops import (
        q169_dataset_card,
    )

    rows = [
        (0, "a b", "en", "s", 0),
        (1, "c d e f", "zh", "s", 0),
        (2, "g h i j k l", "en", "s", 0),
        (3, "g  h   i j\tk l", "zh", "s", 0),  # ws-normalized dup of 2
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    r = q169_dataset_card(spark, sf_dir).collect()[0]
    assert (r.source, r.n_docs, r.n_tokens) == ("s", 4, 18)
    assert r.p50_tokens == 5.0 and r.p90_tokens == 6.0
    assert r.dup_share == 0.25
    assert r.n_langs == 2 and r.top_lang == "en"  # 2-2 tie -> min lang
    assert r.avg_ttr == 1.0  # every planted doc has all-distinct tokens


def test_bm25_index_only_ingest(spark, sf_dir, tmp_path):
    """Deployment shape of q171: build the BM25 index ONCE, then
    retrieval for an incoming batch must (a) equal the full-scan q164
    rows and (b) never rescan documents.parquet — only the persisted
    index and the batch's own text feed the plan."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.textops import (
        BM25_QUERY_MOD,
        bm25_from_index,
        q164_bm25_retrieval,
        write_bm25_index,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    path = str(tmp_path / "bm25_index")
    write_bm25_index(spark, sf_dir, path)
    new_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BM25_QUERY_MOD == 0
    )
    got = sorted(
        map(tuple, bm25_from_index(spark, path, new_docs).collect())
    )
    want = sorted(map(tuple, q164_bm25_retrieval(spark, sf_dir).collect()))
    assert got == want and len(want) > 0

    idx_only = bm25_from_index(spark, path, new_docs.localCheckpoint())
    plan = idx_only._jdf.queryExecution().explainString(
        idx_only.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "documents.parquet" not in plan, plan
    assert "bm25_index" in plan, plan


def test_retrieval_decon_planted(spark, tmp_path):
    """q172 semantics: a train source whose doc copies a benchmark
    question must dominate the exposure report; a source of unrelated
    docs must score at most the copier's level and never hit more
    queries. (Every source shares one common bigram so the clean
    source still has SOME retrievable term — the report ranks
    exposure, not mere presence.)"""
    from synthetic_data_pipeline_spark.operators.textops import (
        q172_retrieval_decon,
    )

    bench_q = "what is the capital of atlantis under the waves"
    rows = []
    # benchmark suite: src0 (DECON_BENCH_SOURCE) carries the question
    for i in range(3):
        rows.append((i, bench_q + f" variant{i} shared token", "en", "src0", 0))
    # leaky train source: verbatim copy of the question
    for i in range(3):
        rows.append((10 + i, bench_q + f" leak{i} shared token", "en", "leaky", 0))
    # clean train source: unrelated text + the shared bigram
    for i in range(3):
        rows.append(
            (20 + i, f"totally unrelated w{i}a w{i}b w{i}c shared token",
             "en", "clean", 0)
        )
    # filler so the question bigrams (df=6) pass the n/20 relative
    # cap: need n_docs >= 120
    for i in range(120):
        rows.append(
            (100 + i, f"f{i}a f{i}b f{i}c f{i}d f{i}e", "en", "filler", 0)
        )
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.source: r for r in q172_retrieval_decon(spark, sf_dir).collect()}
    assert "leaky" in got
    leaky = got["leaky"]
    assert leaky.n_queries_hit == 3  # every bench doc retrieves the copy
    if "clean" in got:
        assert got["clean"].avg_score <= leaky.avg_score
        assert got["clean"].n_queries_hit <= leaky.n_queries_hit


def test_temperature_sweep_math(spark, tmp_path):
    """q173 hand-check: two langs at 90%/10% token share. At tau=1
    shares are unchanged; at tau=0.5 the minority boosts to
    sqrt(.1)/(sqrt(.9)+sqrt(.1)) ≈ 0.25; boost ratios follow."""
    import math

    from synthetic_data_pipeline_spark.operators.assembly import (
        q173_temperature_sweep,
    )

    rows = [(0, " ".join(["w"] * 90), "en", "s", 0),
            (1, " ".join(["v"] * 10), "zh", "s", 0)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {(r.tau, r.lang): r for r in
           q173_temperature_sweep(spark, sf_dir).collect()}
    assert abs(got[(1.0, "en")].share_tau - 0.9) < 1e-5
    assert abs(got[(1.0, "zh")].share_tau - 0.1) < 1e-5
    want = math.sqrt(0.1) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert abs(got[(0.5, "zh")].share_tau - want) < 1e-4
    assert got[(0.5, "zh")].boost > 1.0 > got[(0.5, "en")].boost
    # monotone: lower tau flattens harder
    assert (got[(0.3, "zh")].share_tau > got[(0.5, "zh")].share_tau
            > got[(0.7, "zh")].share_tau > 0.1)


def test_context_length_sweep_math(spark, tmp_path):
    """q174 hand-check at ctx_len=64 on docs of 10/100/200 literal-
    space tokens: kept=10+64+64=138, lost=36+136, packed=ceil(138/64)
    =3, speedup=1.0; at 256 nothing truncates, kept=310, packed=2,
    pad waste = (3*256-310)/768."""
    from synthetic_data_pipeline_spark.operators.assembly import (
        q174_context_length_sweep,
    )

    rows = [(0, " ".join(["a"] * 10), "en", "s", 0),
            (1, " ".join(["b"] * 100), "en", "s", 0),
            (2, " ".join(["c"] * 200), "en", "s", 0)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.ctx_len: r for r in
           q174_context_length_sweep(spark, sf_dir).collect()}
    r64 = got[64]
    assert (r64.n_docs, r64.n_tokens, r64.n_truncated) == (3, 310, 2)
    assert abs(r64.trunc_token_share - 172 / 310) < 1e-3
    assert r64.packed_seqs == 3 and r64.packing_speedup == 1.0
    r256 = got[256]
    assert r256.n_truncated == 0 and r256.packed_seqs == 2
    assert abs(r256.pad_waste_share - (3 * 256 - 310) / 768) < 1e-3
    assert r256.packing_speedup == 1.5


def test_dedup_threshold_sweep_planted(spark, tmp_path):
    """q175 semantics: an exact-dup pair (jaccard 1.0) survives every
    threshold; a moderate-overlap pair must appear only below its
    jaccard; dropped docs follow the smaller-id keeper rule."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators.dedup import q175_dedup_threshold_sweep

    words = [f"w{i}" for i in range(40)]
    A = " ".join(words)
    # B shares a long prefix with A (shingle jaccard ≈ 0.85 — inside
    # every threshold up to 0.8, outside 0.9; long overlap also makes
    # the LSH band collision essentially certain)
    B = " ".join(words[:37] + [f"x{i}" for i in range(3)])
    rows = [(0, A, "en", "s", 0), (1, A, "en", "s", 0), (2, B, "en", "s", 0)]
    rows += [(10 + i, " ".join(f"u{i}y{j}" for j in range(30)), "en", "s", 0)
             for i in range(4)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    state.clear()
    try:
        got = {r.threshold: r for r in
               q175_dedup_threshold_sweep(spark, sf_dir).collect()}
    finally:
        state.clear()
    assert got[0.9].n_pairs >= 1          # the exact dup survives 0.9
    assert got[0.5].n_pairs > got[0.9].n_pairs  # B's pairs drop out
    # drops monotone nonincreasing as threshold rises
    ts = sorted(got)
    for a, b in zip(ts, ts[1:]):
        assert got[a].n_docs_dropped >= got[b].n_docs_dropped


def test_decontaminate_strip_closure(spark, sf_dir):
    """Closure of the q160 ACTION under the q105 DETECTOR: stripping
    every benchmark-covered position must leave a corpus in which the
    detector finds ZERO contaminated positions — re-running detection
    on the cleaned text is the audit a real pipeline ships."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.textops import (
        DECON_BENCH_SOURCE,
        decontaminate_by_source,
        q160_decontaminate_strip,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    cleaned = q160_decontaminate_strip(spark, sf_dir).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # rebuild a (doc_id, source, text) frame: cleaned rows replace
    # their originals, untouched train docs stay verbatim
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    merged = (
        docs.join(cleaned.withColumnRenamed("text", "ct"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("ct", "text").alias("text"),
        )
    )
    resid = decontaminate_by_source(merged).filter(
        (F.col("source") != DECON_BENCH_SOURCE)
        & (F.col("n_contaminated") > 0)
    )
    assert resid.count() == 0


def test_erase_users_action(spark, tmp_path):
    """q177's ACTION: erase_users must drop every event of the listed
    users, keep every bystander row verbatim, and the purged stream's
    per-type counts must reconcile with the q177 report."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.events import (
        ERASE_USER_MOD,
        erase_users,
        q177_user_erasure,
    )

    rows = []
    for i in range(200):
        rows.append(
            (i, dtm.datetime(2024, 5, 1, i % 24, i % 60, 0), i % 97,
             ["click", "view", "error"][i % 3], 1.0, "{}")
        )
    sf_dir = str(tmp_path / "corpus")
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    events.write.parquet(f"{sf_dir}/events.parquet")

    dels = events.select("user_id").filter(
        F.col("user_id") % ERASE_USER_MOD == 0
    ).distinct()
    purged = erase_users(events, dels)
    assert purged.filter(F.col("user_id") % ERASE_USER_MOD == 0).count() == 0
    kept_ids = {r.event_id for r in purged.collect()}
    want_ids = {r.event_id for r in events.collect()
                if r.user_id % ERASE_USER_MOD != 0}
    assert kept_ids == want_ids

    report = {r.event_type: r for r in q177_user_erasure(spark, sf_dir).collect()}
    by_type = {r.event_type: r for r in
               purged.groupBy("event_type").count().collect()}
    for t, rep in report.items():
        assert rep.rows_remaining == by_type[t]["count"]
        assert rep.rows_before == rep.rows_removed + rep.rows_remaining


def test_hybrid_rrf_planted(spark, tmp_path):
    """q178 semantics on a planted TWO-TABLE corpus (documents +
    row-aligned embeddings, the vec_id == doc_id convention): doc 1 is
    query 0's lexical twin (carries the one eligible bigram twice →
    lex rank 1, dense rank 2 by id-tiebreak among cosine-0 vectors),
    doc 3 is its dense twin (same basis vector → cosine 1 → dense
    rank 1, not on the lexical list). RRF's selling point must hold:
    a doc on BOTH lists at modest ranks (doc 1: 1/62 + 1/61) outranks
    the single-list top hit (doc 3: 1/61) — and every rrf value must
    recompute exactly from the member ranks."""
    from synthetic_data_pipeline_spark.operators.textops import (
        RRF_K0,
        q178_hybrid_rrf,
    )

    rows = [
        (0, "alpha beta x0a x0b x0c", "en", "s", 0),
        (1, "alpha beta q1 alpha beta", "en", "s", 0),
        (2, "alpha beta r1 r2 r3", "en", "s", 0),
    ]
    rows += [
        (3 + i, f"f{i}a f{i}b f{i}c f{i}d f{i}e", "en", "s", 0)
        for i in range(57)
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    def basis(dim, scale=1.0):
        v = [0.0] * 64
        v[dim] = scale
        return v

    # vec 3 shares vec 0's basis (cosine 1); every other vector sits on
    # its own axis (cosine 0 to the query, ranked by id among ties).
    emb = [(0, basis(0), 0), (3, basis(0, 2.0), 0)]
    emb += [(i, basis(i % 60 + 1), 0) for i in range(60) if i not in (0, 3)]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    got = [r for r in q178_hybrid_rrf(spark, sf_dir).collect()
           if r.query_id == 0]
    assert got, "query 0 produced no fused rows"
    by_doc = {r.doc_id: r for r in got}
    # membership: dense twin rank 1 on the dense list only; lexical
    # twin on both lists.
    assert by_doc[3].dense_rk == 1 and by_doc[3].lex_rk is None
    assert by_doc[1].lex_rk == 1 and by_doc[1].dense_rk == 2
    assert by_doc[2].lex_rk == 2 and by_doc[2].dense_rk == 3
    # the both-list doc must beat the dense-only top hit.
    assert by_doc[1].rk < by_doc[3].rk
    assert got[0].doc_id == 1 and got[0].rk == 1
    # every rrf recomputes from its member ranks (6dp, the eround nudge
    # is below the assertion tolerance).
    for r in got:
        want = (1.0 / (RRF_K0 + r.dense_rk) if r.dense_rk else 0.0) + (
            1.0 / (RRF_K0 + r.lex_rk) if r.lex_rk else 0.0
        )
        assert abs(r.rrf - want) < 2e-6, (r.doc_id, r.rrf, want)
    # rk is the dense rank over (-rrf, doc_id): contiguous from 1.
    assert [r.rk for r in got] == list(range(1, len(got) + 1))


def test_quality_lr_planted_separable(spark):
    """train_logreg on a deterministic linearly-separable table: the
    per-iteration log-loss must be strictly decreasing (full-batch GD
    on a convex loss with standardized features and this lr), and the
    fitted model must classify its own training set perfectly."""
    from synthetic_data_pipeline_spark.functions.classifier import (
        predict_labels,
        train_logreg,
    )

    rows = []
    for i in range(200):
        y = i % 2
        rows.append(
            (i, y, 2.0 * y + 0.1 * (i % 7), -1.0 * y + 0.05 * (i % 5), 3.5)
        )
    df = spark.createDataFrame(
        rows, "doc_id long, label int, f1 double, f2 double, f3 double"
    )
    # held-out rigor: fit on doc_id % 4 != 0, evaluate on the rest —
    # the planted signal is linear, so the model must generalize.
    train = df.filter("doc_id % 4 != 0")
    test = df.filter("doc_id % 4 = 0")
    model = train_logreg(train, ["f1", "f2", "f3"], iters=30, lr=1.0)
    hist = model["history"]
    assert len(hist) == 30
    assert all(a > b for a, b in zip(hist, hist[1:])), hist
    for frame in (train, test):
        scored = predict_labels(frame, model).collect()
        acc = sum(1 for r in scored if r.predicted == r.label) / len(scored)
        assert acc == 1.0
    # the constant feature must be inert (std floor, not a blow-up)
    assert abs(model["z_weights"]["f3"]) < 1e-9


def test_quality_lr_matches_reference(spark):
    """Cross-implementation parity: the distributed aggregate-per-step
    trainer and the pure-Python twin run the SAME updates — z-space
    weights, bias, and the full loss history must agree to float
    tolerance (summation order is the only difference)."""
    from synthetic_data_pipeline_spark.functions.classifier import (
        reference_logreg,
        train_logreg,
    )

    xs = [
        [1.0 * (i % 3), 0.5 * (i % 4) - 1.0, float(i % 2 == 0)]
        for i in range(60)
    ]
    ys = [1 if (i % 3 == 0 or i % 4 == 1) else 0 for i in range(60)]
    rows = [(i, ys[i], *xs[i]) for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id long, label int, f1 double, f2 double, f3 double"
    )
    model = train_logreg(df, ["f1", "f2", "f3"], iters=12, lr=0.7)
    rb, rw, rhist = reference_logreg(xs, ys, iters=12, lr=0.7)
    assert abs(model["z_bias"] - rb) < 1e-9
    for j, c in enumerate(["f1", "f2", "f3"]):
        assert abs(model["z_weights"][c] - rw[j]) < 1e-9
    for a, b in zip(model["history"], rhist):
        assert abs(a - b) < 1e-9


def test_quality_classifier_e2e(spark, sf_dir):
    """End-to-end on the driver corpus: fit on q179's bounded export,
    then score the FULL corpus through the shared quality_features
    projection — probabilities must be valid and the fold-in of
    standardization into raw-feature weights must reproduce the
    z-space margin exactly on every training row."""
    from synthetic_data_pipeline_spark.functions.classifier import (
        predict_labels,
        train_logreg,
    )
    from synthetic_data_pipeline_spark.operators.textops import (
        QCLF_FEATURES,
        q179_quality_training_set,
        quality_features,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    train = q179_quality_training_set(spark, sf_dir)
    n_pos = train.filter("label = 1").count()
    n_neg = train.filter("label = 0").count()
    assert n_pos > 0 and n_neg > 0
    model = train_logreg(train, QCLF_FEATURES, iters=15, lr=0.5)
    assert model["history"][-1] < model["history"][0]

    corpus = quality_features(load_table(spark, sf_dir, "documents"))
    scored = predict_labels(corpus, model)
    probs = [r.quality_prob for r in scored.collect()]
    assert len(probs) == corpus.count()
    assert all(0.0 <= p <= 1.0 for p in probs)


def test_doremi_mixture_planted(spark, tmp_path):
    """q181 semantics on a planted two-source corpus: src easy is the
    same predictable sentence repeated (bigram model fits it → low
    NLL), src hard is all-unique tokens (every bigram seen once,
    smoothing dominates → high NLL). The hard domain must carry the
    excess and a boost > 1, the easy domain excess 0 and boost < 1,
    and the reweighted mixture must still be a distribution."""
    from synthetic_data_pipeline_spark.operators.textops import (
        q181_doremi_mixture,
    )

    easy = " ".join(["alpha beta gamma delta"] * 8)
    rows = [(i, easy, "en", "easy", 0) for i in range(6)]
    rows += [
        (10 + i, " ".join(f"h{i}w{j}" for j in range(32)), "en", "hard", 0)
        for i in range(6)
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.source: r for r in q181_doremi_mixture(spark, sf_dir).collect()}
    assert set(got) == {"easy", "hard"}
    e, h = got["easy"], got["hard"]
    assert e.n_tokens == 6 * 32 and h.n_tokens == 6 * 32
    assert abs(e.token_share - 0.5) < 1e-4 and abs(h.token_share - 0.5) < 1e-4
    assert h.loss > e.loss
    assert e.excess == 0.0 and h.excess > 0.0
    assert h.boost > 1.0 > e.boost
    assert abs(e.weight + h.weight - 1.0) < 2e-4
    assert h.weight > e.weight


def test_hybrid_rrf_ivf_full_probe_equals_exact(spark, sf_dir):
    """The q178 'swap the IVF arm in at 100 TB' contract: with
    n_probe = |labels| the IVF dense arm scans every inverted list,
    so the fused table must equal the exact-arm q178 row for row —
    and at the serving probe count the schema is identical and the
    LEXICAL members are unchanged (only the dense list narrows)."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.textops import (
        hybrid_rrf_ivf,
        q178_hybrid_rrf,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    n_labels = (
        load_table(spark, sf_dir, "embeddings")
        .select("label").distinct().count()
    )
    exact = q178_hybrid_rrf(spark, sf_dir)
    full = hybrid_rrf_ivf(spark, sf_dir, n_probe=n_labels)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exact.collect())
    )

    serving = hybrid_rrf_ivf(spark, sf_dir)
    assert serving.columns == exact.columns
    lex_only = lambda df: sorted(  # noqa: E731
        (r.query_id, r.doc_id, r.lex_rk)
        for r in df.filter(F.col("lex_rk").isNotNull()).collect()
    )
    assert lex_only(serving) == lex_only(exact)


def test_compression_signal_semantics(spark):
    """The zlib quality heuristic: a doc that repeats one sentence
    must compress far better (lower ratio) than a same-length doc of
    unique tokens; identical texts get identical ratios; and the
    signal is a pure per-row function — repartitioning cannot change
    any value."""
    from synthetic_data_pipeline_spark.operators.textops import (
        compression_signal,
    )

    rep = "the same four words " * 50
    uniq = " ".join(f"w{i}x{i * 7 % 97}" for i in range(200))
    docs = spark.createDataFrame(
        [(0, rep, "s"), (1, uniq, "s"), (2, rep, "s")],
        "doc_id long, text string, source string",
    )
    got = {r.doc_id: r for r in compression_signal(docs).collect()}
    assert got[0].ratio < got[1].ratio * 0.5
    assert got[0].ratio == got[2].ratio
    assert all(0 < r.z_bytes <= r.n_bytes * 1.1 for r in got.values())

    again = {
        r.doc_id: r.ratio
        for r in compression_signal(docs.repartition(7)).collect()
    }
    assert again == {k: v.ratio for k, v in got.items()}


def test_bm25_index_update_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental BM25 index maintenance: appending a batch via
    bm25_index_update must leave the index EQUAL to a from-scratch
    rebuild over the union corpus — retrieval through both is
    row-for-row identical (and equals the full-scan q164). BM25 state
    is additive in documents, and dl/df/avgdl arithmetic is exact
    integer (avg = bigint-sum / count), so the parity is exact, not
    approximate."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import INGEST_MOD
    from synthetic_data_pipeline_spark.operators.textops import (
        BM25_QUERY_MOD,
        bm25_from_index,
        bm25_index_update,
        q164_bm25_retrieval,
        write_bm25_index,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    old_dir = str(tmp_path / "old_corpus")
    docs.filter(F.col("doc_id") % INGEST_MOD != 0).write.parquet(
        f"{old_dir}/documents.parquet"
    )
    idx = str(tmp_path / "idx_incremental")
    write_bm25_index(spark, old_dir, idx)
    bm25_index_update(
        spark, idx, docs.filter(F.col("doc_id") % INGEST_MOD == 0)
    )

    idx2 = str(tmp_path / "idx_rebuilt")
    write_bm25_index(spark, sf_dir, idx2)

    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 0)
    got = sorted(
        map(tuple, bm25_from_index(spark, idx, queries).collect())
    )
    want = sorted(
        map(tuple, bm25_from_index(spark, idx2, queries).collect())
    )
    full = sorted(map(tuple, q164_bm25_retrieval(spark, sf_dir).collect()))
    assert got == want == full and len(full) > 0


def test_bm25_index_update_replay_idempotent(spark, sf_dir, tmp_path):
    """A replayed update batch (same docs, second call) must leave the
    index byte-identical in content: the anti-join on indexed doc_ids
    drops everything, nothing appends, and the merged dfreq/stats
    recompute the same values."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import INGEST_MOD
    from synthetic_data_pipeline_spark.operators.textops import (
        bm25_index_update,
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
    batch = docs.filter(F.col("doc_id") % INGEST_MOD == 0)
    bm25_index_update(spark, idx, batch)

    def snapshot():
        return {
            t: sorted(map(tuple,
                          spark.read.parquet(f"{idx}/{t}").collect()))
            for t in ("tf", "dlen", "dfreq", "stats")
        }

    before = snapshot()
    bm25_index_update(spark, idx, batch)  # replay
    assert snapshot() == before


def test_bm25_repair_after_crash(spark, sf_dir, tmp_path):
    """Crash window under the batch-keyed protocol: the update died
    AFTER writing its tf/batch=0 partition but BEFORE the derived
    rebuild, leaving dlen/dfreq/stats stale. Both recovery routes must
    restore exact rebuild parity: (a) the foreachBatch replay calling
    bm25_index_update again (its own derived rebuild heals), and
    (b) the manual repair_bm25_index."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import INGEST_MOD
    from synthetic_data_pipeline_spark.operators.textops import (
        BM25_QUERY_MOD,
        bm25_from_index,
        bm25_index_update,
        bm25_stats,
        repair_bm25_index,
        write_bm25_index,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    old_dir = str(tmp_path / "old_corpus")
    docs.filter(F.col("doc_id") % INGEST_MOD != 0).write.parquet(
        f"{old_dir}/documents.parquet"
    )
    batch = docs.filter(F.col("doc_id") % INGEST_MOD == 0)
    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 0)
    idx2 = str(tmp_path / "idx_rebuilt")
    write_bm25_index(spark, sf_dir, idx2)
    want = sorted(map(tuple, bm25_from_index(spark, idx2, queries).collect()))

    def crashed_index(name):
        idx = str(tmp_path / name)
        write_bm25_index(spark, old_dir, idx)
        # simulate the crash: the batch's tf partition landed, the
        # derived rebuild never ran
        tf_new, _d, _s, _f = bm25_stats(batch)
        tf_new.write.mode("overwrite").parquet(f"{idx}/tf/batch=0")
        return idx

    idx_a = crashed_index("idx_replay")
    bm25_index_update(spark, idx_a, batch, batch_id=0)  # the replay
    got_a = sorted(map(tuple, bm25_from_index(spark, idx_a, queries).collect()))
    assert got_a == want and len(want) > 0

    idx_b = crashed_index("idx_manual")
    repair_bm25_index(spark, idx_b)
    got_b = sorted(map(tuple, bm25_from_index(spark, idx_b, queries).collect()))
    assert got_b == want


def test_source_keyness_planted_term(spark, monkeypatch):
    """A term used heavily by one source and never by the others must
    rank #1 for that source, and its LLR must match a pure-Python
    Dunning (1993) computation on the same counts."""
    import math

    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    rows = [
        (0, "zebra zebra zebra one two", "en", "srcA", 0),
        (1, "zebra zebra three four five", "en", "srcA", 0),
        (2, "one two three four five", "en", "srcB", 0),
        (3, "one two three four five", "en", "srcB", 0),
        (4, "one two three four five", "en", "srcC", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("_key_docs")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_key_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    got = tx.q186_source_keyness(spark, "unused").collect()
    top_a = [r for r in got if r.source == "srcA" and r.rk == 1][0]
    assert top_a.token == "zebra" and top_a.n_in_source == 5

    # pure-Python Dunning LLR on the planted counts: a=5, c_t=5 (all
    # zebras are in srcA), n1=10 tokens in srcA, N=25 corpus tokens
    a, c_t, n1, nn = 5, 5, 10, 25
    b, n2 = c_t - a, nn - n1
    llr = 2.0 * (a * math.log(a * nn / (n1 * c_t)))  # b == 0 term drops
    assert abs(top_a.llr - round(1e-9 + llr, 4)) < 1e-9
    # every emitted term is overrepresented in its source (a/n1 > c_t/N)
    # and ranks are dense 1..K per source
    for src in {"srcA", "srcB", "srcC"}:
        rks = sorted(r.rk for r in got if r.source == src)
        assert rks == list(range(1, len(rks) + 1))


def test_hourly_anomalies_planted_spike(spark, monkeypatch):
    """Seven same-hour-of-day observations, six quiet (5 events) and
    one spike (50): the spike hour must be the ONLY flagged row, the
    MAD floor must engage (all-quiet baseline -> mad 0), and the score
    must equal (50 - 5) / 1.0."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    rows = []
    eid = 0
    for day in range(1, 8):
        n = 50 if day == 4 else 5
        for i in range(n):
            rows.append(
                (eid, dt.datetime(2025, 3, day, 10, 0, i), eid % 7,
                 "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_spike_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_spike_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = ev_mod.q187_hourly_anomalies(spark, "unused").collect()
    assert len(got) == 7
    flagged = [r for r in got if r.is_anomaly]
    assert len(flagged) == 1
    spike = flagged[0]
    assert spike.hour_ts == dt.datetime(2025, 3, 4, 10, 0, 0)
    assert spike.n == 50 and spike.med == 5.0 and spike.mad == 0.0
    assert abs(spike.score - 45.0) < 1e-9  # MAD floor 1.0 engaged
    assert all(abs(r.score) < 1e-9 for r in got if not r.is_anomaly)


def test_snapshot_manifest_diff_planted(spark, tmp_path):
    """The production path: persist v1's manifest, diff v2 against it —
    one added, one removed, one changed, bystanders unchanged; then
    manifest(v2) vs v2 reads all-unchanged (idempotence)."""
    from synthetic_data_pipeline_spark.operators.textops import (
        diff_vs_manifest,
        snapshot_diff,
        snapshot_manifest,
        write_snapshot_manifest,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    v1 = spark.createDataFrame(
        [
            (0, "alpha beta", "en", "s1", 0),
            (1, "gamma delta", "en", "s1", 0),   # will be removed
            (2, "epsilon zeta", "en", "s2", 0),  # will change
            (3, "eta theta", "en", "s2", 0),
        ],
        schema,
    )
    v2 = spark.createDataFrame(
        [
            (0, "alpha beta", "en", "s1", 0),
            (2, "epsilon CHANGED", "en", "s2", 0),
            (3, "eta theta", "en", "s2", 0),
            (4, "iota kappa", "en", "s1", 0),    # added
        ],
        schema,
    )
    path = str(tmp_path / "manifest_v1")
    write_snapshot_manifest(v1, path)
    got = {r.source: r for r in diff_vs_manifest(spark, v2, path).collect()}
    assert (got["s1"].n_added, got["s1"].n_removed, got["s1"].n_changed,
            got["s1"].n_unchanged) == (1, 1, 0, 1)
    assert (got["s2"].n_added, got["s2"].n_removed, got["s2"].n_changed,
            got["s2"].n_unchanged) == (0, 0, 1, 1)
    assert abs(got["s1"].churn - 1.0) < 1e-9  # (1+1+0)/2 prev rows

    same = snapshot_diff(snapshot_manifest(v2), snapshot_manifest(v2)).collect()
    assert all(
        r.n_added == r.n_removed == r.n_changed == 0 and r.n_unchanged > 0
        for r in same
    )


def test_calibrated_quality_local_vs_global(spark, monkeypatch):
    """A systematically low-diversity source loses MORE docs to the
    global cut than to its own calibrated decile, and a uniform source
    loses nothing locally (its p10 equals every score, and the drop is
    strict-below) — the imbalance q190 exists to expose."""
    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    rows = []
    # srcLOW: 10 docs, 10 tokens each, d distinct -> scores 0.1 .. 1.0
    for i, d in enumerate(range(1, 11)):
        toks = [f"w{j}" for j in range(d)] + ["pad"] * (10 - d)
        # 'pad' collides with w-tokens only when d == 10 (then no pads)
        text = " ".join(toks[:10])
        rows.append((i, text, "en", "srcLOW", 0))
    # srcHIGH: 10 docs, all-distinct tokens -> score 1.0 each
    for i in range(10):
        text = " ".join(f"u{i}_{j}" for j in range(10))
        rows.append((100 + i, text, "en", "srcHIGH", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("_cal_docs")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_cal_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    got = {r.source: r for r in tx.q190_calibrated_quality(spark, "x").collect()}
    low, high = got["srcLOW"], got["srcHIGH"]
    # scores 0.1+d/10... d distinct of 10 tokens (d<10 -> d distinct + pad
    # = d+1 distinct? no: w0..w(d-1) plus 'pad' -> d+1 distinct for d<10)
    # regardless of the exact grid: the global p10 sits INSIDE srcLOW's
    # score range, so the global cut drops at least as many LOW docs as
    # the local decile, and never touches srcHIGH
    assert low.n_drop_global >= low.n_drop_local >= 1
    assert high.n_drop_local == 0 and high.n_drop_global == 0
    assert low.thr_local < high.thr_local


def test_stage_overlap_reconciles_with_q95_and_q97(spark, sf_dir):
    """q192's Venn must tie out exactly: per source, dedup drops ==
    q95's retention list, quality drops == q97's reason list, and the
    four cells partition the corpus."""
    from collections import Counter

    from synthetic_data_pipeline_spark.operators.sketches import (
        q95_dedup_retention,
        q192_stage_overlap,
    )
    from synthetic_data_pipeline_spark.operators.textops import (
        q97_quality_filter,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    src = {
        r.doc_id: r.source
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    dedup_by_src = Counter(
        src[r.doc_id] for r in q95_dedup_retention(spark, sf_dir).collect()
    )
    qual_by_src = Counter(
        src[r.doc_id] for r in q97_quality_filter(spark, sf_dir).collect()
    )
    n_by_src = Counter(src.values())

    got = q192_stage_overlap(spark, sf_dir).collect()
    assert {r.source for r in got} == set(n_by_src)
    for r in got:
        assert r.n_dedup_only + r.n_both == dedup_by_src[r.source]
        assert r.n_quality_only + r.n_both == qual_by_src[r.source]
        assert (
            r.n_dedup_only + r.n_quality_only + r.n_both + r.n_kept
            == n_by_src[r.source] == r.n_docs
        )


def test_cohort_retention_planted(spark, monkeypatch):
    """Three users: A active on days 0/1/2 of their cohort, B only on
    day 0, C first seen a day later and active days 0/2 — the matrix
    must read exact cohort sizes, offsets, and comeback rates (a user
    inactive on day 1 but back on day 2 counts at offset 2 only)."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    d0 = dt.datetime(2025, 6, 1, 12, 0, 0)
    rows, eid = [], 0
    for day in (0, 1, 2):  # user A, cohort 6/1
        rows.append((eid, d0 + dt.timedelta(days=day), 1, "click", 1.0, "{}"))
        eid += 1
    rows.append((eid, d0, 2, "view", 1.0, "{}"))  # user B, cohort 6/1
    eid += 1
    for day in (1, 3):  # user C, cohort 6/2, active offsets 0 and 2
        rows.append((eid, d0 + dt.timedelta(days=day), 3, "click", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_cohort_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_cohort_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = {
        (r.cohort_day, r.day_offset): (r.n_active, r.cohort_size, r.retention)
        for r in ev_mod.q193_cohort_retention(spark, "x").collect()
    }
    assert got[("2025-06-01", 0)] == (2, 2, 1.0)
    assert got[("2025-06-01", 1)][0] == 1 and abs(
        got[("2025-06-01", 1)][2] - 0.5
    ) < 1e-9
    assert got[("2025-06-01", 2)] == (1, 2, 0.5)
    assert got[("2025-06-02", 0)] == (1, 1, 1.0)
    assert ("2025-06-02", 1) not in got  # inactive day emits NO row
    assert got[("2025-06-02", 2)] == (1, 1, 1.0)


def test_usage_concentration_whale(spark, monkeypatch):
    """Nine organic users (1..9 events) plus one 91-event whale: the
    p90 cut isolates the whale, whose share of traffic is exact; p50
    interpolates the organic middle."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    t0 = dt.datetime(2025, 7, 1)
    rows, eid = [], 0
    for uid in range(1, 10):  # user u produces u events
        for i in range(uid):
            rows.append((eid, t0 + dt.timedelta(minutes=eid), uid,
                         "click", 1.0, "{}"))
            eid += 1
    for i in range(91):  # the whale
        rows.append((eid, t0 + dt.timedelta(minutes=eid), 99,
                     "click", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_whale_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_whale_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = ev_mod.q194_usage_concentration(spark, "x").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_users, r.n_events) == (10, 136)
    assert abs(r.p50 - 5.5) < 1e-3       # (5+6)/2
    assert abs(r.p90 - 17.2) < 1e-3      # 9 + 0.1*(91-9)
    assert r.n_top_users == 1            # only the whale clears 17.2
    assert abs(r.top_share - round(91 / 136, 4)) < 1e-3


def test_cluster_chaining_discriminates_chain_from_clique(spark):
    """A 4-node path (chain) and a 4-node clique both read as one
    size-4 cluster under CC — the density audit is what tells them
    apart: 0.5 for the chain (3 of 6 possible edges), 1.0 for the
    clique."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        edge_density_by_cluster,
    )

    chain = [(1, 2), (2, 3), (3, 4)]
    clique = [
        (11, 12), (11, 13), (11, 14), (12, 13), (12, 14), (13, 14)
    ]
    und = chain + clique
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "doc_a long, doc_b long"
    )
    labels = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3, 4)]
        + [(n, 11) for n in (11, 12, 13, 14)],
        "node long, label long",
    )
    got = {r.cluster_size: r for r in
           edge_density_by_cluster(edges, labels).collect()}
    assert got[4].n_clusters == 2 and got[4].n_edges == 9
    assert abs(got[4].min_density - 0.5) < 1e-3   # the chain
    assert abs(got[4].avg_density - 0.75) < 1e-3  # (0.5 + 1.0) / 2


def test_constraint_audit_planted_violations(spark, monkeypatch):
    """Injected violations are counted exactly: one duplicate custkey,
    one FK orphan on each side, one null orderdate, one non-positive
    price, one out-of-range discount, one zero quantity."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import relational as rel
    from synthetic_data_pipeline_spark.sources import tables

    d = dt.datetime(2025, 1, 1)
    customer = spark.createDataFrame(
        [(1, "a", 1, 0.0, "B"), (2, "b", 1, 0.0, "B"),
         (2, "b2", 1, 0.0, "B")],  # dup custkey
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1, "O", 5.0, d, "1-URGENT"),
         (11, 99, "O", -1.0, None, "1-URGENT")],  # orphan + null + <=0
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(10, 1, 1, 1, 5.0, 1.0, 0.1, 0.0, "N", "O", d),
         (10, 1, 1, 1, 5.0, 1.0, 1.5, 0.0, "N", "O", d),  # dup line + disc
         (77, 1, 1, 2, 0.0, 1.0, 0.1, 0.0, "N", "O", d)],  # orphan + qty 0
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    views = {"customer": customer, "orders": orders, "lineitem": lineitem}
    monkeypatch.setattr(
        rel, "load_table",
        lambda sp, sf, name: views[name] if name in views
        else tables.load_table(sp, sf, name),
    )
    got = {r.constraint: r for r in
           rel.q196_constraint_audit(spark, "x").collect()}
    assert got["customer_custkey_unique"].n_violations == 1
    assert got["orders_custkey_fk"].n_violations == 1
    assert got["orders_orderdate_not_null"].n_violations == 1
    assert got["orders_totalprice_positive"].n_violations == 1
    assert got["lineitem_orderkey_fk"].n_violations == 1
    assert got["lineitem_orderline_unique"].n_violations == 1
    assert got["lineitem_discount_range"].n_violations == 1
    assert got["lineitem_quantity_positive"].n_violations == 1
    assert not any(r.ok for r in got.values())


def test_dataset_cards_render_and_reconcile(spark, sf_dir, tmp_path):
    """write_dataset_cards lands one markdown file per source whose
    numbers reconcile with q169's card table."""
    import os

    from synthetic_data_pipeline_spark.operators.textops import (
        q169_dataset_card,
        write_dataset_cards,
    )

    out = str(tmp_path / "cards")
    write_dataset_cards(spark, sf_dir, out)
    card = {r.source: r for r in q169_dataset_card(spark, sf_dir).collect()}
    files = sorted(os.listdir(out))
    assert files == sorted(f"{s}.md" for s in card)
    for s, r in card.items():
        body = open(os.path.join(out, f"{s}.md")).read()
        assert body.startswith(f"# Dataset card: {s}\n")
        assert f"| documents | {r.n_docs} |" in body
        assert f"| tokens | {r.n_tokens} |" in body
        assert f"| top language | {r.top_lang} |" in body


def test_join_skew_audit_planted_hot_key(spark, monkeypatch):
    """A synthetic hot key (90 of 100 rows on one orderkey, the rest
    spread) must read max_rows 90 and a skew factor of 90/avg —
    exactly the signal that routes a join to salting/AQE."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import relational as rel
    from synthetic_data_pipeline_spark.sources import tables

    d = dt.datetime(2025, 1, 1)
    li_rows = [(1, i, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O", d)
               for i in range(90)]
    li_rows += [(k, 0, 1, 0, 1.0, 1.0, 0.0, 0.0, "N", "O", d)
                for k in range(2, 12)]
    lineitem = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    views = {"lineitem": lineitem}
    monkeypatch.setattr(
        rel, "load_table",
        lambda sp, sf, name: views[name] if name in views
        else tables.load_table(sp, sf, name),
    )
    got = {r.join_key: r for r in
           rel.q197_join_skew_audit(spark, "/root/testdata/sf0.001").collect()}
    r = got["lineitem.l_orderkey"]
    assert (r.n_rows, r.n_keys, r.max_rows) == (100, 11, 90)
    avg = 100 / 11
    assert abs(r.skew_factor - round(1e-9 + 90 / avg, 4)) < 1e-3


def test_price_hist_additive(spark, sf_dir):
    """Mergeability: hist(half A) + hist(half B) re-summed bucket-wise
    equals hist(whole), so quantiles from merged partials equal q79 —
    the property that makes the histogram a distributable index."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.reshaping import (
        price_hist,
        q79_histogram_quantiles,
        quantiles_from_hist,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    a = price_hist(orders.filter(F.col("o_orderkey") % 2 == 0))
    b = price_hist(orders.filter(F.col("o_orderkey") % 2 == 1))
    merged = a.unionByName(b).groupBy("bucket").agg(F.sum("n").alias("n"))
    got = sorted(map(tuple, quantiles_from_hist(merged).collect()))
    want = sorted(map(tuple, q79_histogram_quantiles(spark, sf_dir).collect()))
    assert got == want


def test_decayed_activity_recency_beats_volume(spark, monkeypatch):
    """Two users with equal event counts must separate by recency: the
    recent user's score approaches their count, the stale user's
    decays toward zero; a recent-but-smaller user outranks a stale
    whale. Scores cross-checked against pure-Python exp decay."""
    import datetime as dt
    import math

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.operators.events import (
        DECAY_HALF_LIFE_DAYS,
    )
    from synthetic_data_pipeline_spark.sources import tables

    T = dt.datetime(2025, 9, 1)
    rows, eid = [], 0
    for i in range(10):  # recent user 1: all within the last day
        rows.append((eid, T - dt.timedelta(hours=i), 1, "click", 1.0, "{}"))
        eid += 1
    for i in range(30):  # stale whale user 2: 10 weeks old
        rows.append((eid, T - dt.timedelta(days=70, hours=i), 2,
                     "click", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_decay_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_decay_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = {r.user_id: r for r in
           ev_mod.q199_decayed_activity(spark, "x").collect()}
    assert got[1].rk == 1 and got[2].rk == 2  # recency beats volume
    lam = math.log(2.0) / DECAY_HALF_LIFE_DAYS
    want1 = sum(math.exp(-lam * (h / 24.0)) for h in range(10))
    want2 = sum(
        math.exp(-lam * (70 + h / 24.0)) for h in range(30)
    )
    assert abs(got[1].score - round(1e-9 + want1, 4)) < 1e-3
    assert abs(got[2].score - round(1e-9 + want2, 4)) < 1e-3
    assert got[2].score < 0.05  # ten half-lives: the whale is dust


# --- round 14 wave 2: q206 Zipf fit, q207 Heaps growth, q208 session
# association rules, q209 span LM anomaly — each pinned against a
# pure-Python replication on a planted corpus.


def _eround_py(x: float, k: int = 4) -> float:
    return round(x + 1e-6 + abs(x) * 1e-12, k)


def test_zipf_fit_planted_powerlaw(spark, monkeypatch):
    """Token counts 120/r for r=1..6 are an EXACT power law: the fit
    must report slope -1.0 and r² 1.0, with vocab/total/head exact."""
    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    counts = {f"t{r}": 120 // r for r in range(1, 7)}  # 120 60 40 30 24 20
    text = " ".join(" ".join([w] * c) for w, c in counts.items())
    df = spark.createDataFrame(
        [(0, text, "en", "srcZ", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_zipf_docs")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_zipf_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    [row] = tx.q206_zipf_fit(spark, "unused").collect()
    assert row.source == "srcZ"
    assert row.vocab_size == 6
    assert row.total_tokens == sum(counts.values())
    assert row.head_k == 6
    assert row.zipf_slope == _eround_py(-1.0)
    assert row.zipf_r2 == _eround_py(1.0)


def test_zipf_head_cap_and_tiebreak(spark, monkeypatch):
    """With ZIPF_HEAD_K=3 and counts [8, 4, 4, 2], the head keeps the
    8 and both tied 4s (rank by count desc, token asc) and drops the
    2 — the tie-class prefilter must not lose the boundary tie."""
    import math

    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    counts = {"aa": 8, "bb": 4, "cc": 4, "dd": 2}
    text = " ".join(" ".join([w] * c) for w, c in counts.items())
    df = spark.createDataFrame(
        [(0, text, "en", "srcZ", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_zipf_docs2")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_zipf_docs2") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    monkeypatch.setattr(tx, "ZIPF_HEAD_K", 3)
    [row] = tx.q206_zipf_fit(spark, "unused").collect()
    assert row.vocab_size == 4 and row.head_k == 3
    xs = [math.log(r) for r in (1, 2, 3)]
    ys = [math.log(c) for c in (8, 4, 4)]
    mx, my = sum(xs) / 3, sum(ys) / 3
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / 3
    var = sum((x - mx) ** 2 for x in xs) / 3
    assert row.zipf_slope == _eround_py(cov / var)


def test_vocab_growth_planted(spark, monkeypatch):
    """40 docs, two per tile: the first 20 docs each mint 2 brand-new
    trigrams, the last 20 are the SAME doc repeated (no new trigrams
    after its first occurrence) — cum_vocab must saturate exactly, and
    the fitted beta must match a pure-Python regression."""
    import math

    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    rows = []
    for d in range(40):
        if d < 20:
            text = f"w{d}a w{d}b w{d}c w{d}d"  # 4 tokens, 2 new trigrams
        else:
            text = "x y z w"  # 2 trigrams, new only at doc 20
        rows.append((d, text, "en", "src0", len(text)))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_heaps_docs")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_heaps_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    got = tx.q207_vocab_growth(spark, "unused").collect()
    assert [r.tile for r in got] == list(range(1, 21))
    assert all(r.n_docs == 2 for r in got)
    cum_tokens, cum_vocab, new_per_tile = [], [], []
    tok, voc = 0, 0
    for t in range(20):
        tok += 8  # two 4-token docs per tile
        if t < 10:
            voc += 4  # two docs × 2 new trigrams
        elif t == 10:
            voc += 2  # "x y z" / "y z w" minted once at doc 20
        cum_tokens.append(tok)
        cum_vocab.append(voc)
    assert [r.cum_tokens for r in got] == cum_tokens
    assert [r.cum_vocab for r in got] == cum_vocab
    xs = [math.log(v) for v in cum_tokens]
    ys = [math.log(v) for v in cum_vocab]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / n
    var = sum((x - mx) ** 2 for x in xs) / n
    beta = cov / var
    assert all(r.heaps_beta == _eround_py(beta) for r in got)


def test_session_assoc_planted(spark, monkeypatch):
    """One user, three >30-min-separated sessions {a,b} / {a} /
    {a,b,c}: every support/confidence/lift cell is hand-checkable."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    T = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows, eid = [], 0
    for s_idx, types in enumerate([["a", "b"], ["a"], ["a", "b", "c"]]):
        for i, ty in enumerate(types):
            rows.append(
                (eid, T + dt.timedelta(hours=2 * s_idx, minutes=i), 7,
                 ty, 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_assoc_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_assoc_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = {(r.type_a, r.type_b): r
           for r in ev_mod.q208_session_assoc(spark, "unused").collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    assert ab.n_both == 2
    assert ab.support == _eround_py(2 / 3)
    assert ab.conf_a_to_b == _eround_py(2 / 3)  # a in 3 sessions
    assert ab.conf_b_to_a == _eround_py(1.0)    # b in 2, both with a
    assert ab.lift == _eround_py(2 * 3 / (3 * 2))
    ac = got[("a", "c")]
    assert (ac.n_both, ac.conf_b_to_a) == (1, _eround_py(1.0))
    assert ac.lift == _eround_py(1 * 3 / (3 * 1))
    bc = got[("b", "c")]
    assert bc.support == _eround_py(1 / 3)
    assert bc.lift == _eround_py(1 * 3 / (2 * 1))


def test_span_lm_anomaly_planted(spark, monkeypatch):
    """Pure-Python replication of the windowed bigram scoring on a
    3-doc corpus: two repetitive docs and one containing a unique
    bigram run — only the unique-run doc may be flagged once the
    threshold is set between the two worst-window scores."""
    import math

    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    docs = {
        0: ("p p p p p p p p p p p p", "srcA"),
        1: ("p p p p p p p p p p p p", "srcA"),
        2: ("p p q r s t u v w p p p", "srcB"),  # unique low-prob run
    }
    rows = [(d, t, "en", s, len(t)) for d, (t, s) in docs.items()]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_span_docs")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_span_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )

    # pure-Python model replication
    k = tx.PPL_SMOOTH_K
    W = tx.SPAN_W
    toks = {d: t.split() for d, (t, s) in docs.items()}
    bgs = {d: [(a, b) for a, b in zip(ts, ts[1:])] for d, ts in toks.items()}
    c12, c1 = {}, {}
    for d, bl in bgs.items():
        for bg in bl:
            c12[bg] = c12.get(bg, 0) + 1
            c1[bg[0]] = c1.get(bg[0], 0) + 1
    v = len({t for ts in toks.values() for t in ts})
    worst = {}
    for d, bl in bgs.items():
        lps = [math.log((c12[bg] + k) / (c1[bg[0]] + k * v)) for bg in bl]
        wins = [sum(lps[i:i + W]) / W for i in range(len(lps) - W + 1)]
        worst[d] = min(wins)
    assert worst[2] < worst[0]  # the planted run IS the anomaly
    thresh = (worst[2] + worst[0]) / 2.0
    monkeypatch.setattr(tx, "SPAN_LP_MIN", thresh)

    got = {r.source: r
           for r in tx.q209_span_lm_anomaly(spark, "unused").collect()}
    assert got["srcA"].n_scored == 2 and got["srcB"].n_scored == 1
    assert got["srcA"].n_flagged == 0
    assert got["srcB"].n_flagged == 1
    assert got["srcB"].min_worst_lp == _eround_py(worst[2])
    assert got["srcA"].avg_worst_lp == _eround_py(
        1e-9 + (worst[0] + worst[1]) / 2.0
    )
# --- round 14 wave 3: q210 PMI collocations, q211 transition
# entropy — pure-Python replications on planted corpora.


def test_pmi_collocations_planted(spark, monkeypatch):
    """One doc where 'aa bb' always co-occur (perfect collocation)
    against a pool of frequent fillers: every PMI cell is
    hand-computable, the pair floor drops sub-floor pairs, and the
    perfect pair outranks the filler pairs."""
    import math

    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    # 6 repetitions of "aa bb", separated by runs of filler 'f'
    # (so 'bb aa' never occurs); f-f pairs are frequent but
    # independence-expected.
    text = " ".join(["aa bb " + "f " * 4] * 6).strip()
    df = spark.createDataFrame(
        [(0, text, "en", "srcP", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_pmi_docs")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_pmi_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    monkeypatch.setattr(tx, "PMI_MIN_COUNT", 5)

    toks = text.split()
    bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    c1, c12 = {}, {}
    for t in toks:
        c1[t] = c1.get(t, 0) + 1
    for g in bgs:
        c12[g] = c12.get(g, 0) + 1
    n, m = len(toks), len(bgs)

    def pmi(g):
        a, b = g.split(" ")
        return (
            math.log(c12[g]) - math.log(m)
            - math.log(c1[a]) - math.log(c1[b]) + 2 * math.log(n)
        )

    got = {r.bigram: r for r in
           tx.q210_pmi_collocations(spark, "unused").collect()}
    want = {g for g, c in c12.items() if c >= 5}
    assert set(got) == want          # the floor dropped "bb f"(6)? no:
    # "aa bb"=6, "bb f"=6, "f f"=18, "f aa"=5 — all >=5 survive
    for g, r in got.items():
        assert r.c12 == c12[g] and r.c_a == c1[g.split(" ")[0]]
        assert r.pmi == _eround_py(pmi(g))
    # the engineered collocation carries the highest PMI
    top = min(got.values(), key=lambda r: r.rk)
    assert top.bigram == "aa bb"
    ranked = sorted(got.values(), key=lambda r: r.rk)
    keys = [(-r.pmi, r.bigram) for r in ranked]
    assert keys == sorted(keys)      # rank follows (pmi desc, bg asc)


def test_pmi_floor_drops_rare_pairs(spark, monkeypatch):
    """A hapax pair would max PMI by construction — the floor must
    keep it out of the table."""
    from synthetic_data_pipeline_spark.operators import textops as tx
    from synthetic_data_pipeline_spark.sources import tables

    text = "zz qq " + "f f f f f " * 3   # 'zz qq' occurs once
    df = spark.createDataFrame(
        [(0, text.strip(), "en", "srcP", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("_pmi_docs2")
    monkeypatch.setattr(
        tx, "load_table",
        lambda sp, sf, name: sp.table("_pmi_docs2") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    monkeypatch.setattr(tx, "PMI_MIN_COUNT", 5)
    got = [r.bigram for r in
           tx.q210_pmi_collocations(spark, "unused").collect()]
    assert "zz qq" not in got
    assert "f f" in got


def test_transition_entropy_planted(spark, monkeypatch):
    """User A: a→b always (H=0). User B: b→a / b→c alternating
    (H=ln 2, h_norm=1). All gaps < 30 min so every transition
    counts; pure-Python H cross-check at 4dp."""
    import datetime as dt
    import math

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    T = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows, eid = [], 0
    # user 1: a b a b a b  -> a→b ×3, b→a ×2
    for i, ty in enumerate(["a", "b", "a", "b", "a", "b"]):
        rows.append((eid, T + dt.timedelta(minutes=i), 1, ty, 1.0, "{}"))
        eid += 1
    # user 2: b a b c b a b c  -> b→a ×2, b→c ×2, a→b ×2, c→b ×1
    for i, ty in enumerate(["b", "a", "b", "c", "b", "a", "b", "c"]):
        rows.append((eid, T + dt.timedelta(minutes=i), 2, ty, 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_tent_events")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_tent_events") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = {r.from_type: r for r in
           ev_mod.q211_transition_entropy(spark, "unused").collect()}
    # a→b: 3 (user1) + 2 (user2) = 5, only next type b → H = 0
    assert got["a"].n_out == 5 and got["a"].n_next_types == 1
    assert got["a"].h_next == _eround_py(1e-9 + 0.0)
    assert got["a"].h_norm == _eround_py(1e-9 + 0.0)
    # b→a: 2+2=4, b→c: 2 → H = ln6 − (4·ln4 + 2·ln2)/6
    h_b = math.log(6) - (4 * math.log(4) + 2 * math.log(2)) / 6
    assert got["b"].n_out == 6 and got["b"].n_next_types == 2
    assert got["b"].h_next == _eround_py(1e-9 + h_b)
    assert got["b"].h_norm == _eround_py(1e-9 + h_b / math.log(2))
    # c→b once
    assert got["c"].n_out == 1 and got["c"].h_next == _eround_py(1e-9)


def test_transition_entropy_gap_rule(spark, monkeypatch):
    """A >30-min gap breaks the chain exactly like q185: the
    transition across the gap is not counted."""
    import datetime as dt

    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables

    T = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows = [
        (0, T, 5, "a", 1.0, "{}"),
        (1, T + dt.timedelta(minutes=10), 5, "b", 1.0, "{}"),
        (2, T + dt.timedelta(minutes=50), 5, "c", 1.0, "{}"),  # gap 40
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("_tent_events2")
    monkeypatch.setattr(
        ev_mod, "load_table",
        lambda sp, sf, name: sp.table("_tent_events2") if name == "events"
        else tables.load_table(sp, sf, name),
    )
    got = {r.from_type: r for r in
           ev_mod.q211_transition_entropy(spark, "unused").collect()}
    assert set(got) == {"a"}         # only a→b survives the gap rule
    assert got["a"].n_out == 1
