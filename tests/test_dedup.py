"""MinHash-LSH dedup on crafted near-duplicates — proves the funnel
finds what it should (the driver corpus has no planted dups, so the
oracle parity alone can't show recall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synthetic_data_pipeline_spark.operators.dedup import (
    distinct_shingles,
    lsh_candidates,
    minhash_signatures,
    token_jaccard,
)
from synthetic_data_pipeline_spark.operators.sketches import LP_ITERS

BASE = (
    "the quick brown fox jumps over the lazy dog while the river runs "
    "slowly past the quiet mill and the miller watches the water turn "
    "the old wheel beneath a pale morning sky"
)


def _corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("pale morning", "grey evening")),  # near-dup of 0
        (3, "completely different content about spark shuffles and "
            "partitions and adaptive query execution plans at scale"),
        (4, "yet another unrelated document mentioning embeddings "
            "vectors cosine similarity and approximate neighbors"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_dups(spark):
    docs = _corpus(spark)
    sig = minhash_signatures(docs)
    cands = lsh_candidates(sig)
    pairs = {(r.doc_a, r.doc_b) for r in cands.collect()}
    assert (0, 1) in pairs, "exact dup must collide in every band"
    assert (0, 2) in pairs or (1, 2) in pairs, "near-dup should collide"

    jac = token_jaccard(distinct_shingles(docs), cands).collect()
    by_pair = {(r.doc_a, r.doc_b): r.jaccard for r in jac}
    assert by_pair[(0, 1)] == 1.0
    if (0, 2) in by_pair:
        assert 0.5 < by_pair[(0, 2)] < 1.0
    # unrelated docs never become verified near-dups
    for (a, b), j in by_pair.items():
        if 3 in (a, b) or 4 in (a, b):
            assert j < 0.5


def test_signatures_deterministic(spark):
    docs = _corpus(spark)
    a = sorted(map(tuple, minhash_signatures(docs).collect()))
    b = sorted(map(tuple, minhash_signatures(docs.repartition(7)).collect()))
    assert a == b


def test_lp_converges_within_unroll(sf_dir):
    """q103's probe round on the DuckDB reference, where the LP_ITERS
    unroll lives: on testdata every dup cluster's diameter must fit
    inside it, i.e. a 6th min-label round changes nothing. A nonzero
    count here is exactly the under-merge a >5-hop dup chain would
    cause in the oracle's unroll."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        _lp_convergence_oracle,
    )
    from tests.test_oracle_parity import _duck

    row = next(_duck(sf_dir, _lp_convergence_oracle()).itertuples())
    assert row.n_nodes > 0, "probe should see the clustered nodes"
    assert row.n_changed == 0, (
        f"{row.n_changed}/{row.n_nodes} labels still moving after "
        "LP_ITERS rounds — raise LP_ITERS (and the oracle unroll)"
    )


def test_lp_funnel_memoized_and_stable(spark, sf_dir):
    """The shared funnel must (a) memoize per (session, sf_dir) so
    q58/q95/q101/q103 pay for one build, and (b) return bit-identical
    labels on a memo hit vs a cold rebuild."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators import sketches

    state.clear()
    assert "cluster_state" not in state.stats()
    cold = sorted(map(tuple, sketches._cluster_labels(spark, sf_dir).collect()))
    assert state.stats()["cluster_state"] == {"entries": 1, "builds": 1, "hits": 0}
    hit = sketches._cluster_labels(spark, sf_dir)
    assert hit is sketches._cluster_state(spark, sf_dir)[1], "second call must hit"
    assert state.stats()["cluster_state"] == {"entries": 1, "builds": 1, "hits": 2}
    assert sorted(map(tuple, hit.collect())) == cold
    state.clear()
    rebuilt = sorted(map(tuple, sketches._cluster_labels(spark, sf_dir).collect()))
    assert rebuilt == cold
    assert state.stats()["cluster_state"]["builds"] == 1


def test_persisted_retention_reuse(spark, sf_dir, tmp_path):
    """Cross-job funnel reuse: materialize the retention list once as
    parquet, then run the dedup action from the persisted table in a
    'fresh session' (cleared state) — identical summary, and the
    consumer provably never rebuilds the funnel (no cluster_state build)."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators import sketches

    path = str(tmp_path / "retention")
    sketches.write_retention(spark, sf_dir, path)
    want = sorted(
        map(tuple, sketches.q101_deduped_corpus(spark, sf_dir).collect())
    )
    state.clear()
    got = sorted(
        map(
            tuple,
            sketches.deduped_corpus_from(spark, sf_dir, path).collect(),
        )
    )
    assert got == want
    assert "cluster_state" not in state.stats(), "consumer rebuilt the funnel"


def test_incremental_dedup_matches_full_scan(spark, sf_dir):
    """q118's new-vs-indexed pairs must equal the FULL band join's
    candidate pairs restricted to (new, old) — incremental ingestion
    loses nothing vs re-running dedup over the whole corpus."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators import dedup

    tokens = dedup.token_state(spark, sf_dir)
    sig = dedup.minhash_signatures_from_tokens(tokens)
    full = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .filter(
            (F.col("doc_a") % dedup.INGEST_MOD == 0)
            & (F.col("doc_b") % dedup.INGEST_MOD != 0)
        )
        .distinct()
    )
    verified_full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.token_jaccard(tokens, full)
        .filter(F.col("jaccard") >= dedup.JACCARD_THRESHOLD)
        .collect()
    }
    incr = {
        (r.new_doc_id, r.dup_of, r.jaccard)
        for r in dedup.q118_incremental_dedup(spark, sf_dir).collect()
    }
    assert incr == verified_full


def test_incremental_from_persisted_index(spark, sf_dir, tmp_path):
    """Deployment shape of q118: build the index ONCE, then dedup an
    incoming batch reading ONLY the persisted parquet index — result
    equals q118 and the ingest plan never scans documents.parquet for
    the indexed side (new batch text comes in as a DataFrame)."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators import dedup
    from synthetic_data_pipeline_spark.sources.tables import load_table

    path = str(tmp_path / "dedup_index")
    dedup.write_dedup_index(spark, sf_dir, path)

    new_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % dedup.INGEST_MOD == 0
    )
    out = dedup.incremental_dedup_from_index(spark, path, new_docs)
    got = sorted((r.new_doc_id, r.dup_of, r.jaccard) for r in out.collect())
    want = sorted(
        (r.new_doc_id, r.dup_of, r.jaccard)
        for r in dedup.q118_incremental_dedup(spark, sf_dir).collect()
    )
    assert got == want

    # index-only ingest: the indexed side reads the persisted parquet
    idx_only = dedup.incremental_dedup_from_index(
        spark, path, new_docs.localCheckpoint()
    )
    plan = idx_only._jdf.queryExecution().explainString(
        idx_only.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "documents.parquet" not in plan, plan
    assert "dedup_index" in plan, plan


def test_fuzzy_prefix_planted_dup(spark, sf_dir, tmp_path):
    """A planted near-identical pair must surface in q125 with a small
    edit distance; unrelated docs must not appear at distance 0."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators import dedup

    rows = dedup.q125_fuzzy_prefix_dedup(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r.edit_distance <= dedup.LEV_MAX
        assert r.doc_a < r.doc_b
    # candidates with jaccard >= threshold (q46) should largely agree:
    # every high-jaccard pair within the prefix budget is edit-close
    near = {
        (r.doc_a, r.doc_b)
        for r in dedup.q46_minhash_near_dups(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    }
    fuzzy = {(r.doc_a, r.doc_b) for r in rows}
    assert near <= fuzzy or not near


def test_duplicated_spans_planted(spark):
    """q131 on a planted corpus: docs 0 and 1 share an exact 25-token
    run (every one of its 20-gram positions is cross-doc duplicated),
    doc 2 is unique — so src_dup reports exactly the shared positions
    and src_uniq reports zero."""
    from synthetic_data_pipeline_spark.operators.dedup import _span_grams

    shared = " ".join(f"tok{i}" for i in range(25))
    uniq = " ".join(f"solo{i}" for i in range(30))
    rows = [
        (0, f"{shared} tail0a tail0b", "src_dup"),
        (1, f"head1a head1b {shared}", "src_dup"),
        (2, uniq, "src_uniq"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    from pyspark.sql import functions as F

    grams = _span_grams(docs)
    cross = grams.groupBy("g").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("dup")
    )
    per_doc = (
        grams.join(cross, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_pos"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup"),
        )
    )
    res = {r.doc_id: (r.n_pos, r.n_dup) for r in per_doc.collect()}
    # doc 0: 27 tokens -> 8 positions; the shared run's 20-grams are
    # positions 1..6 (those fully inside the 25 shared tokens)
    assert res[0] == (8, 6)
    assert res[1] == (8, 6)
    assert res[2] == (11, 0)


def test_incremental_spans_checks_only_new_vs_index(spark):
    """q132 semantics on a planted corpus: an incoming doc (id % 20
    == 0) sharing a 25-token run with an INDEXED doc is flagged; an
    incoming doc sharing a run only with ANOTHER INCOMING doc is not
    (new-vs-new is q131's batch job, not the ingest gate); and only
    incoming docs appear in the output."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import (
        INGEST_MOD,
        SPAN_N,
        _span_grams,
    )

    shared_idx = " ".join(f"idx{i}" for i in range(25))
    shared_new = " ".join(f"new{i}" for i in range(25))
    rows = [
        (1, f"{shared_idx} filler1a filler1b", "s"),       # indexed
        (0, f"{shared_idx} tail0a tail0b", "s"),           # incoming, dup
        (20, f"{shared_new} tail20a tail20b", "s"),        # incoming
        (40, f"head40a head40b {shared_new}", "s"),        # incoming
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    new_grams = _span_grams(
        docs.filter(F.col("doc_id") % INGEST_MOD == 0)
    ).select("doc_id", F.md5("g").alias("g"))
    index = (
        _span_grams(docs.filter(F.col("doc_id") % INGEST_MOD != 0))
        .select(F.md5("g").alias("g"))
        .distinct()
    )
    flagged = (
        new_grams.join(index.withColumn("_hit", F.lit(True)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pos"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("n_dup"),
        )
    )
    res = {r.doc_id: (r.n_pos, r.n_dup) for r in flagged.collect()}
    assert set(res) == {0, 20, 40}          # only incoming docs
    assert res[0] == (8, 6)                  # 6 of 8 positions indexed
    assert res[20] == (8, 0)                 # new-vs-new NOT flagged
    assert res[40] == (8, 0)


def test_prefix_count_filter_loss_region(spark):
    """Pins q104's recall bound (round-8 ADVICE): the PPJoin prefix at
    t=0.5 guarantees only >=1 shared prefix token, so MIN_SHARED=3 has
    a real loss region — a true J=0.6 pair whose shared shingles sort
    LATE in the (df, token) rarity order overlaps on just 2 prefix
    slots and is missed, while the same-Jaccard pair whose shared
    shingles sort EARLY overlaps on 3 and is kept. min_shared=2
    recovers both, proving the loss is exactly the count floor, not
    the prefix or the df cap."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        inverted_index_candidates,
    )

    # every token df=2 (kept): pair (1,2) shares zz_1..3 which sort
    # AFTER its aa_* unique tokens -> prefix(3 of 4) overlap = 2;
    # pair (3,4) shares aa_1..3 which sort FIRST -> prefix overlap = 3.
    # Fillers 5-8 give each unique token its second occurrence.
    rows = [
        (1, "aa_a"), (1, "zz_1"), (1, "zz_2"), (1, "zz_3"),
        (2, "aa_b"), (2, "zz_1"), (2, "zz_2"), (2, "zz_3"),
        (3, "aa_1"), (3, "aa_2"), (3, "aa_3"), (3, "zz_c"),
        (4, "aa_1"), (4, "aa_2"), (4, "aa_3"), (4, "zz_d"),
        (5, "aa_a"), (6, "aa_b"), (7, "zz_c"), (8, "zz_d"),
    ]
    tokens = spark.createDataFrame(rows, ["doc_id", "token"])

    got3 = {
        (r.doc_a, r.doc_b)
        for r in inverted_index_candidates(tokens).collect()
    }
    assert got3 == {(3, 4)}  # (1,2) is J=0.6 but prefix-overlap 2: lost

    got2 = {
        (r.doc_a, r.doc_b)
        for r in inverted_index_candidates(tokens, min_shared=2).collect()
    }
    assert got2 == {(1, 2), (3, 4)}  # floor relaxed -> recall restored

    # both pairs really are at J = 3/5 = 0.6 >= the 0.5 threshold
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in token_jaccard(
            tokens, spark.createDataFrame([(1, 2), (3, 4)],
                                          ["doc_a", "doc_b"])
        ).collect()
    }
    assert jac == {(1, 2): 0.6, (3, 4): 0.6}


def test_longest_dup_span_planted(spark, tmp_path):
    """q134 on a planted corpus: docs 0/1 share one 25-token run
    (longest span = exactly those 25 words), docs 3/4 share TWO
    disjoint runs of 22 and 30 tokens separated by unique middles —
    the gaps-and-islands grouping must keep the runs apart and report
    30, not 52. A fully unique doc never reaches the output."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        q134_longest_dup_span,
    )

    shared = " ".join(f"tok{i}" for i in range(25))
    shared_a = " ".join(f"a{i}" for i in range(22))
    shared_b = " ".join(f"b{i}" for i in range(30))
    rows = [
        (0, f"{shared} tail0a tail0b", "en", "src_dup", 0),
        (1, f"head1a head1b {shared}", "en", "src_dup", 0),
        (2, " ".join(f"solo{i}" for i in range(30)), "en", "src_uniq", 0),
        (3, f"{shared_a} m3a m3b m3c m3d m3e {shared_b}", "en", "src_two", 0),
        (4, f"{shared_a} m4a m4b m4c m4d m4e {shared_b}", "en", "src_two", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: (r.n_docs_with_dup, r.max_span_words, r.avg_longest_span)
        for r in q134_longest_dup_span(spark, str(tmp_path)).collect()
    }
    assert got == {
        "src_dup": (2, 25, 25.0),   # the shared run, nothing more
        "src_two": (2, 30, 30.0),   # longest of the two runs, not 52
    }


def test_incremental_span_gate_planted(spark, tmp_path):
    """q135 on a planted corpus: incoming doc 0 shares a 45-word run
    with indexed doc 1 (longest 45 >= the 40-word gate: rejected),
    incoming doc 20 shares a 25-word run with indexed doc 3 (admitted),
    incoming doc 40 is novel (longest 0, admitted) — the gate joins
    only the INDEXED side, so novel content never flags against other
    incoming docs."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        SPAN_GATE_MAX_WORDS,
        q135_incremental_span_gate,
    )

    long_run = " ".join(f"L{i}" for i in range(45))
    short_run = " ".join(f"s{i}" for i in range(25))
    novel = " ".join(f"n{i}" for i in range(30))
    rows = [
        (0, f"pre0a pre0b {long_run}", "en", "src", 0),      # incoming
        (20, f"{short_run} tail20a tail20b", "en", "src", 0),  # incoming
        (40, novel, "en", "src", 0),                          # incoming
        (1, f"{long_run} idxtail1", "en", "src", 0),          # indexed
        (3, f"idxhead3 {short_run}", "en", "src", 0),         # indexed
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.longest_span_words, r.admit)
        for r in q135_incremental_span_gate(spark, str(tmp_path)).collect()
    }
    assert SPAN_GATE_MAX_WORDS == 40
    assert got == {
        0: (45, False),   # 45 verbatim words with the index: rejected
        20: (25, True),   # short overlap: admitted
        40: (0, True),    # novel: admitted
    }


def test_islands_run_lengths_random_property(spark):
    """Property check for the gaps-and-islands core shared by q134/q135:
    on 30 random hit-position sets, the Spark pos-row_number grouping
    must reproduce a pure-Python run-length scan's (longest, total)
    per doc exactly — including adjacent-run boundaries and singleton
    runs, the cases a planted example can miss."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import SPAN_N

    rng = random.Random(20260814)
    rows, want = [], {}
    for doc in range(30):
        n = rng.randint(1, 40)
        positions = sorted(rng.sample(range(1, 120), n))
        rows += [(doc, p) for p in positions]
        # pure-Python reference: run lengths of consecutive positions
        runs, cur = [], 1
        for a, b in zip(positions, positions[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[doc] = (
            max(runs) + SPAN_N - 1,              # longest span_words
            sum(r + SPAN_N - 1 for r in runs),   # sum of span_words
        )
    hits = spark.createDataFrame(rows, "doc_id long, pos int")
    w = Window.partitionBy("doc_id").orderBy("pos")
    per_run = (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg((F.count("*") + F.lit(SPAN_N - 1)).alias("span_words"))
    )
    got = {
        r.doc_id: (r.longest, r.total)
        for r in per_run.groupBy("doc_id")
        .agg(F.max("span_words").alias("longest"),
             F.sum("span_words").alias("total"))
        .collect()
    }
    assert got == want


def test_span_tier_degenerate_corpora(spark, tmp_path):
    """Edge cases the sf corpora never produce: an EMPTY documents
    table and a corpus where every doc is SHORTER than SPAN_N words
    must yield empty results from the whole span tier (q131/q134/q135)
    — not a planning error from aggregating an empty frame, and not a
    phantom row from the left joins."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        q131_duplicated_spans,
        q134_longest_dup_span,
        q135_incremental_span_gate,
    )

    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars int")
    for name, rows in (
        ("empty", []),
        ("short", [(0, "too short", "en", "src", 9),
                   (20, "also tiny", "en", "src", 9),
                   (1, "below the gram width", "en", "src", 20)]),
    ):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        assert q131_duplicated_spans(spark, d).count() == 0, name
        assert q134_longest_dup_span(spark, d).count() == 0, name
        assert q135_incremental_span_gate(spark, d).count() == 0, name


def test_cc_star_matches_lp_labels(spark, sf_dir):
    """Star-contraction components must agree with the DuckDB
    reference's LP unroll at the LABEL level (not just histogram
    shape) on the real LSH candidate graph — q103 certifies the unroll
    converged here, and both conventions pick min-doc-id as the
    canonical label."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        _cluster_labels,
        _lp_with_body,
    )
    from tests.test_oracle_parity import _duck

    body, final = _lp_with_body()
    ref = _duck(sf_dir, f"WITH {body} SELECT node, label FROM {final}")
    lp = sorted((int(r.node), int(r.label)) for r in ref.itertuples())
    star = sorted(map(tuple, _cluster_labels(spark, sf_dir).collect()))
    assert lp, "the reference should cluster some docs"
    assert star == lp


@pytest.mark.parametrize(
    "n",
    [
        (2 ** LP_ITERS) * 4,  # far beyond what LP_ITERS min-rounds span
        4096,  # needs 13 contraction rounds
    ],
)
def test_cc_star_long_chain_beyond_unroll(spark, n):
    """The case the fixed unroll CANNOT solve: a path graph longer
    than LP_ITERS hops. Star contraction must still collapse it to a
    single component labeled by the minimum node id."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        cc_star_labels,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    labels = cc_star_labels(chain).collect()
    assert len(labels) == n + 1
    assert {r.label for r in labels} == {0}


def test_simhash_width_knobs_preserve_pigeonhole(spark):
    """The parameterized signature/band widths (VERDICT r9 Next #4)
    must preserve the pigeonhole guarantee at EVERY setting: for any
    (bits, bands), every pair whose true signature distance is within
    radius bands-1 is reported with that exact distance, and nothing
    beyond the radius leaks through the band join. Probed at the
    default (60, 4), the narrower-band A/B point (40, 4 → 10-bit
    bands, more chance candidates, same answers) and a wider radius
    (60, 5)."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_sig,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "river runs slowly past the quiet mill and the miller "
            "watches the water turn the old wheel beneath the sky")
    rows = [
        (0, base, "s"),
        (1, base, "s"),
        (2, base.replace("quiet mill", "noisy mill"), "s"),
        (3, base.replace("quick brown", "slow white"), "s"),
        (4, "completely different content about spark shuffles and "
            "partitions and query plans and adaptive execution at "
            "scale with broadcast joins and skew salting", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for bits, bands in [(60, 4), (40, 4), (60, 5)]:
        sig = simhash_sig(docs, bits)
        sigs = {r.doc_id: r.h for r in sig.collect()}
        radius = bands - 1
        want = set()
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                d = bin(sigs[a] ^ sigs[b]).count("1")
                if d <= radius:
                    want.add((a, b, d))
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_hamming_pairs(sig, bits, bands).collect()
        }
        assert got == want, (bits, bands)
        assert (0, 1, 0) in got, (bits, bands)  # exact dup always found


def test_dedup_span_strip_first_occurrence_wins(spark):
    """The q157 ACTION (Lee et al. 2022): doc 1 copies a 25-token span
    from doc 0 — after the strip the OWNER keeps its text verbatim
    (first occurrence wins), the copier loses exactly the copied span
    (every position covered by a shared 20-gram), its organic prefix
    and suffix survive, and an unrelated doc is untouched. The q158
    accounting must reconcile exactly."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        dedup_span_strip,
        dedup_span_strip_stats,
    )

    a_toks = [f"a{i}" for i in range(30)]
    span = a_toks[5:]  # 25 tokens, >= SPAN_N so shared grams exist
    b_pre = [f"b{i}" for i in range(10)]
    b_suf = [f"c{i}" for i in range(5)]
    u_toks = [f"u{i}" for i in range(30)]
    rows = [
        (0, " ".join(a_toks), "s1"),
        (1, " ".join(b_pre + span + b_suf), "s2"),
        (2, " ".join(u_toks), "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = {r.doc_id: r for r in dedup_span_strip(docs).collect()}
    # only the copier is touched: the owner and the unrelated doc
    # produce no row (they pass through a real pipeline unchanged)
    assert set(out) == {1}
    r = out[1]
    assert r.tokens_before == 40 and r.tokens_removed == 25
    assert r.clean_text == " ".join(b_pre + b_suf)

    stats = {r.source: r for r in dedup_span_strip_stats(docs).collect()}
    assert stats["s1"].docs_touched == 0
    assert stats["s1"].tokens_removed == 0
    assert stats["s2"].docs_touched == 1
    assert stats["s2"].tokens_removed == 25
    assert stats["s2"].tokens_total == 70
    assert abs(stats["s2"].removed_share - 25 / 70) < 1e-3


def test_self_repetition_strip_planted(spark):
    """The q162 ACTION: a templated doc repeating its own 5-token
    phrase keeps the FIRST occurrence and loses exactly the second;
    an all-unique doc is untouched."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        self_repetition_strip,
    )

    phrase = "p1 p2 p3 p4 p5"
    rows = [
        (0, f"a1 a2 a3 {phrase} b1 b2 b3 {phrase} c1", "s"),
        (1, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in self_repetition_strip(docs).collect()}
    assert set(out) == {0}
    r = out[0]
    assert r.clean_text == f"a1 a2 a3 {phrase} b1 b2 b3 c1"
    assert r.tokens_before == 17 and r.tokens_removed == 5


def test_rewrite_without_spans_matches_python_reference(spark):
    """The shared covered-position rewrite now carries FIVE strip
    operators (q155/q157/q159/q160/q162), so its exact semantics get a
    randomized pin independent of any flag source: 200 seeded docs
    with arbitrary flagged start positions (overlapping, adjacent,
    doc-spanning, first/last position) must reproduce a pure-Python
    reconstruction token-for-token."""
    import random as _random

    from synthetic_data_pipeline_spark.operators.dedup import (
        _rewrite_without_spans,
    )

    rng = _random.Random(101)
    n = 4
    docs_rows, flag_rows, expect = [], [], {}
    for doc_id in range(200):
        toks = [f"t{rng.randrange(9)}" for _ in range(rng.randint(0, 40))]
        text = " ".join(toks)
        docs_rows.append((doc_id, text, "s"))
        # arr of "" splits to [""] in both engines — mirror that
        eff = toks if toks else [""]
        n_starts = max(0, len(eff) - n + 1)
        starts = sorted(
            rng.sample(range(1, n_starts + 1),
                       rng.randint(0, min(5, n_starts)))
        ) if n_starts else []
        for s in starts:
            flag_rows.append((doc_id, s))
        if starts:
            covered = {p for s in starts for p in range(s, s + n)}
            clean = [t for i, t in enumerate(eff, 1) if i not in covered]
            expect[doc_id] = (
                len(eff), len(covered), " ".join(clean)
            )
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, text string, source string"
    )
    flagged = spark.createDataFrame(flag_rows, "doc_id long, pos int")
    got = {
        r.doc_id: (r.tokens_before, r.tokens_removed, r.clean_text)
        for r in _rewrite_without_spans(docs, flagged, n=n).collect()
    }
    assert got == expect
    assert len(expect) > 100  # the generator actually flagged things


def test_cc_star_raises_on_round_exhaustion(spark, monkeypatch):
    """Falling out of the round budget before the edge set stabilizes
    must raise, not silently return labels from a non-fixed-point edge
    set (ADVICE r9: a non-star-forest read emits duplicate or non-min
    labels with no signal). One round can never self-certify — the
    stability check needs two equal consecutive checksums."""
    import pytest

    import synthetic_data_pipeline_spark.operators.sketches as sk

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(sk, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="not stable"):
        sk.cc_star_labels(chain)


def test_incremental_clusters_handle_bridges(spark):
    """The q163 hard case: a NEW doc whose buckets touch TWO separate
    old components must merge them (naive attach-to-one-cluster
    designs miss this). Synthetic signature frame so collisions are
    by construction: old {1,2} and {3,7} bridge through new doc 20;
    new doc 40 pulls the old SINGLETON 9 into a cluster; new docs
    80/100 form a new-only cluster; new doc 60 stays unclustered.
    The incremental labels must equal the full recompute exactly."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import (
        lsh_candidates,
    )
    from synthetic_data_pipeline_spark.operators.sketches import (
        cc_star_labels,
        incremental_cluster_labels,
    )

    rows = [  # one minhash per (doc, band); fillers qN never collide
        (1, 0, "x"), (1, 1, "q1"),         # old component {1, 2}
        (2, 0, "x"), (2, 1, "q2"),
        (3, 0, "q3"), (3, 1, "y"),         # old component {3, 7}
        (7, 0, "q7"), (7, 1, "y"),
        (9, 0, "z"), (9, 1, "q9"),         # old singleton
        (20, 0, "x"), (20, 1, "y"),        # NEW bridge: merges both
        (40, 0, "z"), (40, 1, "q40"),      # NEW: clusters with old 9
        (60, 0, "w"), (60, 1, "q60"),      # NEW: unclustered
        (80, 0, "v"), (80, 1, "q80"),      # NEW x NEW component
        (100, 0, "v"), (100, 1, "q100"),
    ]
    sig = spark.createDataFrame(
        rows, "doc_id long, band int, minhash string"
    )

    is_new = F.col("doc_id") % 20 == 0
    old_labels = cc_star_labels(lsh_candidates(sig.filter(~is_new)))
    got = {
        r.node: r.label
        for r in incremental_cluster_labels(
            sig, sig.filter(is_new), old_labels
        ).collect()
    }
    want = {1: 1, 2: 1, 3: 1, 7: 1, 20: 1, 9: 9, 40: 9, 80: 80, 100: 80}
    assert got == want
    full = {
        r.node: r.label
        for r in cc_star_labels(lsh_candidates(sig)).collect()
    }
    assert got == full  # incremental == full recompute, label-level


def test_cluster_update_batch_multi_batch_state(spark, tmp_path):
    """Two sequential cluster_update_batch calls against one evolving
    state: batch 2's docs must cluster with BATCH 1's docs through the
    persisted signatures (not just with the original corpus), and the
    final labels must equal the full re-cluster of everything. Exact
    duplicates share every minhash, so collisions are deterministic."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import (
        distinct_shingles,
        lsh_candidates,
        minhash_signatures_from_tokens,
    )
    from synthetic_data_pipeline_spark.operators.sketches import (
        cc_star_labels,
        cluster_update_batch,
        write_cluster_state,
    )

    A = " ".join(f"a{i}" for i in range(30))
    B = " ".join(f"b{i}" for i in range(30))
    C = " ".join(f"c{i}" for i in range(30))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    old = spark.createDataFrame(
        [(1, A, "en", "s", 0), (2, A, "en", "s", 0),
         (3, B, "en", "s", 0), (7, B, "en", "s", 0)], schema)
    sf_dir = str(tmp_path / "corpus")
    old.write.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "state")
    write_cluster_state(spark, sf_dir, state)

    b1 = spark.createDataFrame(
        [(20, C, "en", "s", 0), (40, C, "en", "s", 0)], schema)
    b2 = spark.createDataFrame(
        [(60, C, "en", "s", 0), (80, B, "en", "s", 0)], schema)
    cluster_update_batch(spark, state, b1).count()
    out2 = {
        r.node: r.label for r in cluster_update_batch(spark, state, b2).collect()
    }
    # batch-2 doc 60 found batch-1's {20, 40} via persisted state;
    # batch-2 doc 80 joined the ORIGINAL {3, 7}
    assert out2 == {60: 20, 80: 3}
    got = sorted(map(tuple, spark.read.parquet(f"{state}/labels").collect()))
    union = old.unionByName(b1).unionByName(b2)
    full_sig = minhash_signatures_from_tokens(distinct_shingles(union))
    want = sorted(map(tuple, cc_star_labels(lsh_candidates(full_sig)).collect()))
    assert got == want
    assert dict(got) == {1: 1, 2: 1, 3: 3, 7: 3, 80: 3, 20: 20, 40: 20, 60: 20}

    # retry-idempotency (foreachBatch replays a batch after a crash):
    # re-applying batch 2 must change NOTHING — same signature rows
    # (left_anti append), same label rows, no duplicates
    replay = {
        r.node: r.label for r in cluster_update_batch(spark, state, b2).collect()
    }
    assert replay == out2
    again = sorted(map(tuple, spark.read.parquet(f"{state}/labels").collect()))
    assert again == got  # row-for-row, duplicates included (none)


def test_cluster_update_batch_lock_semantics(spark, tmp_path, monkeypatch):
    """ADVICE r10: the single-writer lock must be RELEASED when a batch
    fails before any state write (harmless — next caller proceeds) but
    RETAINED when it fails after the labels rewrite began (state is
    half-updated — the 'previous run died mid-batch' error must fire
    for the next caller, forcing a verified cleanup/replay)."""
    import os
    import shutil as _shutil

    import pytest as _pytest

    from synthetic_data_pipeline_spark.operators import sketches as sk

    A = " ".join(f"a{i}" for i in range(30))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    old = spark.createDataFrame([(1, A, "en", "s", 0)], schema)
    sf_dir = str(tmp_path / "corpus")
    old.write.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "state")
    sk.write_cluster_state(spark, sf_dir, state)
    lock = os.path.join(state, "_clusters.lock")
    batch = spark.createDataFrame([(5, A, "en", "s", 0)], schema)

    # (a) pre-write failure: planning blows up before any state write
    def boom(*a, **k):
        raise RuntimeError("planner exploded")

    monkeypatch.setattr(sk, "incremental_cluster_labels", boom)
    with _pytest.raises(RuntimeError, match="planner exploded"):
        sk.cluster_update_batch(spark, state, batch)
    assert not os.path.exists(lock)  # released: state untouched
    monkeypatch.undo()

    # (b) post-write failure: rmtree (runs after labels overwrite +
    # sig append) raising stands in for any mid-update crash — the
    # lock must survive so the next caller hits the loud error
    monkeypatch.setattr(sk.shutil if hasattr(sk, "shutil") else _shutil,
                        "rmtree", boom)
    with _pytest.raises(RuntimeError, match="planner exploded"):
        sk.cluster_update_batch(spark, state, batch)
    monkeypatch.undo()
    assert os.path.exists(lock)  # retained: half-updated window
    with _pytest.raises(RuntimeError, match="died mid-batch"):
        sk.cluster_update_batch(spark, state, batch)
    os.unlink(lock)  # operator-verified cleanup, as the message says
    sk.cluster_update_batch(spark, state, batch).count()  # now fine


def test_simhash_hamming_join_planted(spark, monkeypatch):
    """Banded SimHash at radius 3: an exact duplicate pair must land at
    hamming 0, a one-word-edit near-dup within the radius, and two
    unrelated docs (~30 bits apart in expectation) must NOT pair. Also
    pins the pigeonhole guarantee end-to-end: every reported pair was
    found via a shared 15-bit band, never an all-pairs scan."""
    from synthetic_data_pipeline_spark.operators import dedup
    from synthetic_data_pipeline_spark.operators.dedup import (
        simhash60,
    )
    from synthetic_data_pipeline_spark.sources import tables

    base = ("the quick brown fox jumps over the lazy dog while the "
            "river runs slowly past the quiet mill and the miller "
            "watches the water turn the old wheel beneath the sky")
    rows = [
        (0, base, "s"),
        (1, base, "s"),                                   # exact dup
        (2, base.replace("quiet mill", "noisy mill"), "s"),  # near-dup
        (3, "completely different content about spark shuffles and "
            "partitions and query plans and adaptive execution at "
            "scale with broadcast joins and skew salting", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    docs.createOrReplaceTempView("_simham_docs")
    monkeypatch.setattr(
        dedup, "load_table",
        lambda sp, sf, name: sp.table("_simham_docs") if name == "documents"
        else tables.load_table(sp, sf, name),
    )
    sigs = {r.doc_id: r.h for r in simhash60(docs).collect()}
    assert sigs[0] == sigs[1]  # identical shingle sets -> identical sig
    # unrelated content sits far outside the radius (~30 bits expected)
    assert bin(sigs[0] ^ sigs[3]).count("1") > 3
    # the operator must report EXACTLY the pairs whose true signature
    # distance is within the radius — the pigeonhole banding may not
    # miss one, and the verify may not admit one beyond the radius
    ids = sorted(sigs)
    want: dict[int, int] = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sigs[a] ^ sigs[b]).count("1")
            if d <= 3:
                want[d] = want.get(d, 0) + 1
    got = {r.hamming: r.n_pairs
           for r in dedup.q152_simhash_hamming_join(spark, "unused").collect()}
    assert got == want
    assert got.get(0) == 1  # the planted exact-dup pair


def test_minhash_calibration_planted(spark, tmp_path):
    """q165 semantics: exact duplicates share every minimum, so a
    corpus of 3 identical docs plus unrelated fillers must produce
    exactly one calibration row — n_match=8, est=1.0, 3 pairs,
    avg exact Jaccard 1.0, MAE 0 (the estimator is exact there)."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators.dedup import q165_minhash_calibration

    A = " ".join(f"a{i}" for i in range(30))
    rows = [(i, A, "en", "s", 0) for i in range(3)]
    rows += [(10 + i, " ".join(f"u{i}x{j}" for j in range(30)), "en", "s", 0)
             for i in range(4)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    state.clear()
    try:
        got = q165_minhash_calibration(spark, sf_dir).collect()
    finally:
        state.clear()
    assert len(got) == 1
    r = got[0]
    assert (r.n_match, r.n_pairs) == (8, 3)
    assert r.est_jaccard == 1.0 and r.avg_jaccard == 1.0 and r.mae == 0.0


def test_detector_agreement_planted(spark, tmp_path):
    """q170 semantics: an exact-duplicate pair collides in every
    MinHash band AND sits at Hamming 0, so it must land in 'both'
    (jaccard 1.0, hamming 0); unrelated all-unique fillers must
    produce no pair in any category."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators.dedup import q170_detector_agreement

    A = " ".join(f"a{i}" for i in range(30))
    rows = [(0, A, "en", "s", 0), (1, A, "en", "s", 0)]
    rows += [(10 + i, " ".join(f"u{i}x{j}" for j in range(30)), "en", "s", 0)
             for i in range(5)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    state.clear()
    try:
        got = {r.category: r for r in
               q170_detector_agreement(spark, sf_dir).collect()}
    finally:
        state.clear()
    assert set(got) == {"both"}
    r = got["both"]
    assert r.n_pairs == 1 and r.avg_jaccard == 1.0 and r.avg_hamming == 0.0


def test_dedup_roi_planted(spark, tmp_path):
    """q176: three identical docs (100 chars each) in one source →
    the keeper rule drops two (200 chars, 2/3 of docs); an all-unique
    source reports zero drops."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators.sketches import q176_dedup_roi

    A = " ".join(f"a{i}" for i in range(30))
    rows = [(i, A, "en", "dup", 100) for i in range(3)]
    rows += [(10 + i, " ".join(f"u{i}x{j}" for j in range(30)), "en",
              "clean", 50) for i in range(4)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    state.clear()
    try:
        got = {r.source: r for r in q176_dedup_roi(spark, sf_dir).collect()}
    finally:
        state.clear()
    dup = got["dup"]
    assert (dup.n_docs, dup.n_dropped, dup.chars_dropped) == (3, 2, 200)
    assert abs(dup.doc_drop_share - 2 / 3) < 1e-4
    assert abs(dup.char_drop_share - 2 / 3) < 1e-4
    clean = got["clean"]
    assert clean.n_dropped == 0 and clean.char_drop_share < 1e-5


def test_memorization_risk_planted(spark, tmp_path):
    """q180 on a planted corpus: one exact 20-token block appears in
    FIVE docs of src dup (one gram position each, fillers unique), so
    the at-risk mass is identical at k=2/3/5 (ndocs=5 clears all
    three) and exactly zero at k=10; an all-unique source reports
    zeros at every k with its scaffold rows still present."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        MEM_RISK_KS,
        q180_memorization_risk,
    )

    block = " ".join(f"mem{i}" for i in range(20))
    rows = [
        (i, f"{block} " + " ".join(f"f{i}x{j}" for j in range(10)), "en",
         "dup", 0)
        for i in range(5)
    ]
    rows += [
        (10 + i, " ".join(f"u{i}y{j}" for j in range(30)), "en",
         "clean", 0)
        for i in range(3)
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {(r.source, r.k): r
           for r in q180_memorization_risk(spark, sf_dir).collect()}
    assert len(got) == 2 * len(MEM_RISK_KS)
    # dup docs: 30 tokens → 11 positions each, 5 docs → tot_pos 55;
    # exactly ONE position per doc carries the shared block.
    for k in (2, 3, 5):
        r = got[("dup", k)]
        assert r.at_risk_positions == 5, (k, r)
        assert abs(r.position_share - 5 / 55) < 1e-4
        assert r.docs_touched == 5 and abs(r.doc_share - 1.0) < 1e-9
    r10 = got[("dup", 10)]
    assert r10.at_risk_positions == 0 and r10.docs_touched == 0
    for k in MEM_RISK_KS:
        r = got[("clean", k)]
        assert r.at_risk_positions == 0 and r.docs_touched == 0
        assert r.position_share == 0.0 and r.doc_share == 0.0


def test_containment_pairs_planted(spark, tmp_path):
    """q184 semantics: a 10-token doc quoted verbatim inside a
    100-token host has containment 1.0 but Jaccard ~0.08 — the
    asymmetric pair q104's J >= 0.5 cut structurally drops (asym=1) —
    while a symmetric near-identical pair shows up with asym=0, and
    an unrelated doc appears in no pair."""
    from synthetic_data_pipeline_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        q184_containment_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(10))
    host_rest = " ".join(f"h{i}" for i in range(90))
    near_a = " ".join(f"n{i}" for i in range(30))
    near_b = near_a + " extra"
    rows = [
        (0, quote, "en", "s", 0),
        (1, f"{host_rest} {quote}", "en", "s", 0),
        (2, near_a, "en", "s", 0),
        (3, near_b, "en", "s", 0),
        (4, " ".join(f"u{i}" for i in range(40)), "en", "s", 0),
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {(r.doc_a, r.doc_b): r
           for r in q184_containment_pairs(spark, sf_dir).collect()}
    assert set(got) == {(0, 1), (2, 3)}
    c = got[(0, 1)]
    # 10-token quote → 8 distinct 3-gram shingles, all inside the host
    assert c.containment == 1.0 and c.n_inter == c.na == 8
    assert c.jaccard < JACCARD_THRESHOLD and c.asym == 1
    s = got[(2, 3)]
    assert s.jaccard >= JACCARD_THRESHOLD and s.asym == 0
    assert s.containment == 1.0  # near_a is a strict prefix of near_b


def test_containment_candidate_arms_agree(spark, tmp_path):
    """The q184 candidate A/B pinned as a property: on the planted
    corpus the default floor-3 postings and the one-sided-prefix
    floor-1 arm must admit the SAME verified pairs — including the
    asymmetric quote-in-host pair (8 shared kept shingles clears the
    floor; the prefix arm finds it by the pigeonhole bound)."""
    from pyspark.sql import functions as F

    from synthetic_data_pipeline_spark.operators.dedup import (
        CONTAINMENT_T,
        containment_candidates,
        distinct_shingles,
        token_overlap,
    )
    from synthetic_data_pipeline_spark.functions.rounding import eround

    quote = " ".join(f"q{i}" for i in range(10))
    host_rest = " ".join(f"h{i}" for i in range(90))
    rows = [
        (0, quote, "s"),
        (1, f"{host_rest} {quote}", "s"),
        (2, " ".join(f"u{i}" for i in range(40)), "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    tokens = distinct_shingles(docs)

    def verified(cands):
        ov = token_overlap(tokens, cands)
        c = eround(
            F.col("n_inter") / F.least("na", "nb").cast("double"), 4
        )
        return sorted(
            map(tuple,
                ov.withColumn("c", c)
                .filter(F.col("c") >= CONTAINMENT_T)
                .select("doc_a", "doc_b").collect())
        )

    floor3 = verified(containment_candidates(tokens))
    prefix1 = verified(containment_candidates(tokens, one_sided_prefix=True))
    assert floor3 == prefix1 == [(0, 1)]
