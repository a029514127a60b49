"""Deduplication operators (north star, SURVEY.md §2.3 J9).

Three tiers, cheapest first — the standard 100TB dedup funnel:
1. exact:   md5(normalized text) group — map-side hash, one shuffle on
            a uniform 128-bit key, zero skew.
2. jaccard: exact n-gram/token-set similarity on CANDIDATE pairs only.
3. minhash: MinHash-LSH banding generates the candidates — per doc ×
            band, the min of md5(shingle:band) over its 3-word shingles;
            docs sharing any (band, minhash) bucket are candidates. With
            r=1 rows/band and b bands, P[candidate] = 1-(1-s)^b — b=8
            keeps recall high above s≈0.5 while the bucket join touches
            only collisions, never the full n² cross join.

Shingling matters: single-token sets degenerate when the vocabulary is
small (every doc shares most tokens with every other → candidate set
goes quadratic — measured 117s at sf0.1 before the switch). 3-word
shingles cube the space, which is also why real MinHash pipelines
shingle first.

md5 is the hash everywhere (not Spark's xxhash64/murmur3) so the DuckDB
oracle computes bit-identical signatures — minhash comparison works on
the hex strings' lexicographic order, no int conversion needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state
from ..functions.grams import (
    normalized,
    normalized_md5_sql,
    tokens,
    tokens_sql,
    word_ngrams,
    word_ngrams_sql,
)
from ..functions.rounding import eround
from ..sources.tables import fan_out_scan, load_table

N_HASHES = 8
BAND_ROWS = 2  # r rows per band → 4 bands; P[cand] = 1-(1-s^2)^4
JACCARD_THRESHOLD = 0.5


def distinct_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, token) — distinct whitespace tokens per document."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("token"),
    )


def distinct_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, token) — distinct n-word shingles per document, built
    NARROWLY from ``grams.word_ngrams`` over the token array (no
    explode+window shuffle)."""
    docs = docs.select("doc_id", tokens(F.col("text")).alias("arr"))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(word_ngrams("arr", n))).alias("token")
    )


# --- q45: exact duplicate groups over normalized text.
def q45_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select("doc_id", F.md5(normalized("text")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )
    return groups.agg(
        F.count("*").alias("n_unique"),
        F.sum(F.col("n_docs") - 1).alias("n_removed"),
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = N_HASHES, r: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band, minhash): n_hashes independent minima per doc,
    grouped into bands of r — a band's key is the concat of its r
    minima, so P[candidate] = 1-(1-s^r)^(n_hashes/r). r=1 made the
    bucket join quadratic on this corpus (band-collision prob equals
    raw Jaccard, which is small-but-nonzero for MOST pairs: 81k
    candidates from 5k docs); r=2 suppresses the low-similarity mass
    while keeping ≥99% recall at s≥0.7.

    Plan shape: ONE shuffle — groupBy(doc_id) with n_hashes partial
    mins (map-side combined); the per-band rows are a narrow 4-row
    explode of the aggregated row. No (doc × band × shingle) fan-out.
    """
    return minhash_signatures_from_tokens(distinct_shingles(docs), n_hashes, r)


def minhash_minima(toks: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, m0..m{n-1}) — the raw per-hash minima the band keys are
    built from; exposed separately so q165's calibration audit can
    compare component-level matches against exact Jaccard."""
    return toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws(":", "token", F.lit(str(h))))).alias(f"m{h}")
            for h in range(n_hashes)
        ]
    )


def minhash_signatures_from_tokens(
    toks: DataFrame, n_hashes: int = N_HASHES, r: int = BAND_ROWS
) -> DataFrame:
    mins = minhash_minima(toks, n_hashes)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat(*[F.col(f"m{b * r + i}") for i in range(r)]).alias("minhash"),
        )
        for b in range(n_hashes // r)
    ]
    return mins.select("doc_id", F.explode(F.array(*bands)).alias("s")).select(
        "doc_id", "s.band", "s.minhash"
    )


# Shingle table + LSH candidate pairs per session and sf_dir: q46 and
# the near-dup cluster funnel (sketches._cluster_state → q58/q95/q101/q103)
# need the SAME shingle → minhash → band bucket-join pipeline; one
# session computes it once in the session state store — the in-session
# form of "at 100 TB you'd persist the shingle table". Results are
# identical with or without a memo hit (same deterministic lineage).
# Two levels: the shingle TOKEN table has more consumers than the LSH
# pair table (q104's posting-list join needs tokens but never the
# minhash band join), so they materialize independently — a consumer
# that only needs tokens doesn't pay the candidate build.
# Beside them: the 60-bit SimHash signature frame built identically by
# q152 and q170 (VERDICT r11 #5), and the full-corpus MinHash BAND
# signatures (doc_id, band, minhash) — the frame write_cluster_state
# persists as a lake's signature table, which q163/q203 each rebuilt
# per call (8 md5 minima per token row, the funnel's CPU hot spot).
def token_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted shingle-token table (doc_id, token) — the
    shared upstream of both candidate generators (LSH banding and the
    q104 posting-list join) and of exact-Jaccard verification."""
    from pyspark import StorageLevel

    def build():
        # The shingle explode is the funnel's CPU hot spot (~10-100
        # md5-ed shingles per doc); a small corpus arrives as ONE
        # parquet split, so fan the scan out first (measured 11 s
        # single-threaded at sf0.01 vs 1.5 s parallel at sf0.1).
        docs = fan_out_scan(spark, load_table(spark, sf_dir, "documents"))
        tokens = distinct_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
        tokens.count()
        return tokens

    return state.get_or_build(spark, "token_state", sf_dir, build)


def shingle_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized (shingle tokens, distinct doc_a < doc_b LSH candidate
    pairs), both persisted eagerly on first build. Tokens feed
    signature building AND exact-Jaccard verification; pairs feed
    verification and the dup-cluster graph."""
    from pyspark import StorageLevel

    def build():
        tokens = token_state(spark, sf_dir)
        pairs = lsh_candidates(minhash_signatures_from_tokens(tokens)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pairs.count()
        return pairs

    pairs = state.get_or_build(spark, "shingle_pairs", sf_dir, build)
    # the entry holds only the pairs: the tokens belong to token_state's
    # entry, so evicting the pairs must not unpersist them
    return token_state(spark, sf_dir), pairs


def simhash_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted 60-bit SimHash signature frame (doc_id, h) —
    ONE narrow row per doc, shared by q152 (Hamming-radius join) and
    q170 (detector agreement), which previously each built it per call
    (VERDICT r11 #5). Results are identical either way (same lineage,
    same determinism)."""
    from pyspark import StorageLevel

    def build():
        # same fan-out as token_state: the signature build is
        # shingle-explode CPU, worthless on one core
        docs = fan_out_scan(spark, load_table(spark, sf_dir, "documents"))
        sig = simhash60(docs).persist(StorageLevel.MEMORY_AND_DISK)
        sig.count()  # materialize before anyone forks the lineage
        return sig

    return state.get_or_build(spark, "simhash_state", sf_dir, build)


def band_sig_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted full-corpus MinHash band-signature frame
    (doc_id, band, minhash). Built from the memoized token table, so a
    warm session pays neither the shingle explode nor the per-token
    minima."""
    from pyspark import StorageLevel

    def build():
        sig = minhash_signatures_from_tokens(token_state(spark, sf_dir))
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
        sig.count()  # materialize before anyone forks the lineage
        return sig

    return state.get_or_build(spark, "band_sig_state", sf_dir, build)


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any (band, minhash) bucket."""
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def token_jaccard(tokens: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for the given candidate pairs — a thin
    projection over :func:`token_overlap`, which owns the round-8
    verify shape (semi-restricted token table, one array_intersect per
    pair; see its docstring). Keeping ONE definition means q104 and
    q184 can never diverge in verify plan."""
    n_inter = F.col("n_inter")
    return token_overlap(tokens, pairs).select(
        "doc_a",
        "doc_b",
        eround(
            n_inter / (F.col("na") + F.col("nb") - n_inter), 4
        ).alias("jaccard"),
    )


# --- q46: MinHash-LSH near-duplicate pairs, verified by exact
# shingle-set Jaccard on the candidates only. The shingle table feeds
# four consumers (signatures, sizes, both sides of the intersection
# join) — materialized once via the session memo instead of
# re-scanning the corpus and re-shingling per consumer (at 100TB
# you'd persist it as a table; ``shingle_state`` is that pattern
# in-session, shared with the dup-cluster funnel).
def q46_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens, cands = shingle_state(spark, sf_dir)
    return (
        token_jaccard(tokens, cands)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# --- q47: brute-force pairwise Jaccard on a bounded slice (the exact
# baseline the LSH variant approximates; bounded so the n² stays sane).
def q47_pairwise_jaccard_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    tokens = distinct_tokens(docs).localCheckpoint(eager=False)
    pairs = (
        tokens.select(F.col("doc_id").alias("doc_a"))
        .distinct()
        .join(tokens.select(F.col("doc_id").alias("doc_b")).distinct())
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    jac = token_jaccard(tokens, pairs)
    return (
        jac.agg(
            F.count("*").alias("n_pairs"),
            eround(1e-9 + F.avg("jaccard"), 4).alias("avg_jaccard"),
            eround(F.max("jaccard"), 4).alias("max_jaccard"),
            F.sum(F.when(F.col("jaccard") >= 0.8, 1).otherwise(0)).alias(
                "n_near_dups"
            ),
        )
    )


# --- q165: MinHash estimate calibration (round 11) — the sketch-
# accuracy audit for the dedup tier, the q107/q25 pattern applied to
# MinHash: for every LSH candidate pair, the ESTIMATED Jaccard
# (matching minima / N_HASHES — the unbiased estimator the banding
# thresholds assume) is compared against the EXACT shingle Jaccard
# the verify stage computes anyway. Reported per estimator level
# (n_match ∈ 2..8 — pairs below 2 can't band-collide at r=2): pair
# count, mean exact Jaccard, and mean |estimate − exact|. This is the
# table that justifies (or indicts) N_HASHES=8 before a corpus scales
# 100×: if MAE at the threshold levels is too wide, widen the
# signature. Rides the memoized funnel state: per-doc minima frame
# (bounded width, the checkpoint-policy class) joined twice to the
# candidate-bounded pair list — no new corpus scan, no new shuffle
# class.
def q165_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tokens, pairs = shingle_state(spark, sf_dir)
    mins = minhash_minima(tokens).localCheckpoint(eager=False)
    ma = mins.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{h}").alias(f"a{h}") for h in range(N_HASHES)],
    )
    mb = mins.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{h}").alias(f"b{h}") for h in range(N_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(N_HASHES)
    ).cast("int")
    per_pair = (
        token_jaccard(tokens, pairs)
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .select("jaccard", n_match.alias("n_match"))
    )
    est = F.col("n_match") / float(N_HASHES)
    return (
        per_pair.groupBy("n_match")
        .agg(
            F.count("*").alias("n_pairs"),
            eround(F.avg("jaccard"), 4).alias("avg_jaccard"),
            eround(F.avg(F.abs(est - F.col("jaccard"))), 4).alias("mae"),
        )
        .withColumn("est_jaccard", eround(est, 4))
        .select("n_match", "est_jaccard", "n_pairs", "avg_jaccard", "mae")
        .orderBy("n_match")
    )


# --- q104: exact n-gram Jaccard similarity JOIN via a capped,
# PREFIX-FILTERED inverted index (north star "n-gram Jaccard" dedup
# tier — the deterministic complement to q46's MinHash approximation).
# Candidate pairs come from the shingle posting lists themselves.
# Three guards keep candidate generation linear at scale:
#   1. the df cap — a posting list of length f yields O(f²) pairs, so
#      capping f at DF_CAP bounds per-shingle fan-out (the classic
#      stop-word trick from the set-similarity-join literature);
#   2. PPJoin PREFIX FILTERING (round 8) — only each doc's
#      floor(nk/2)+1 rarest kept shingles are indexed (rarity =
#      (df, token), one global order both engines share). Any pair at
#      Jaccard >= 0.5 must collide inside these prefixes, so the
#      posting join runs on ~half the postings (~quarter the fan-out);
#   3. a MINIMUM SHARED COUNT (PPJoin's count filter) — the posting
#      join's output feeds a map-side-combined (doc_a, doc_b) count
#      and only pairs sharing >= MIN_SHARED prefix shingles reach the
#      exact-Jaccard verify, dropping random near-collisions
#      (measured at sf0.1 / 5k docs: floor 2 -> 14,583 candidates,
#      floor 3 -> 761, both with identical 256 verified pairs —
#      floor 5 loses 4 true pairs; 3 balances recall vs verify cost).
# Verification is exact full-set Jaccard on survivors (same verify
# stage as q46). The reference has no dedup at all (/root/reference/
# modules/validator.py) — this is north-star surface.
DF_CAP = 20
MIN_SHARED = 3


def inverted_index_candidates(
    tokens: DataFrame, df_cap: int = DF_CAP, min_shared: int = MIN_SHARED
) -> DataFrame:
    """(doc_a < doc_b) pairs sharing at least ``min_shared`` PREFIX
    tokens, where a doc's prefix is its floor(nk/2)+1 RAREST kept
    shingles (kept = df in [2, df_cap]; rarity order = (df, token), a
    total order both engines share). PPJoin prefix filtering (VERDICT
    r7 Next #4): a pair at Jaccard >= t must share a token within the
    first |x| - ceil(t*|x|) + 1 positions of ANY fixed global token
    ordering, so only that prefix needs indexing — at t = 0.5 that
    halves the postings and ~quarters the posting-join fan-out vs
    indexing every kept token. The count floor then drops random
    single-collisions before the exact-Jaccard verify. The join's
    fan-out goes straight into a partially-aggregated pair count —
    the only thing shuffled per collision is a (doc_a, doc_b) pair.

    RECALL BOUND (round-8 ADVICE): the prefix theorem at t = 0.5 only
    guarantees >= 1 shared prefix token — and only over FULL token
    sets, while this index prefixes the df-capped KEPT subset — so
    the ``min_shared`` count floor is a deliberate precision/recall
    trade, not a lossless filter. The loss region is pairs at
    Jaccard >= t whose prefix overlap lands below ``min_shared``:
    short docs (few kept shingles => short prefixes) whose shared
    shingles sort LATE in the global (df, token) rarity order —
    pinned by test_prefix_count_filter_loss_region, which plants one
    J = 0.6 pair the floor misses (prefix overlap 2) and one it
    keeps (overlap 3), and shows min_shared=2 recovers both. At
    corpus scale the measured cost was 0 true pairs lost at floor 3
    vs floor 2 (sf0.1, 5k docs, 256 verified pairs), but that figure
    is corpus-dependent; recall-critical callers should pass
    ``min_shared=1`` and pay the larger verify."""
    # kept-with-df in ONE token-keyed shuffle: group the postings,
    # filter on list size (== df), re-explode — no separate dfreq
    # aggregate + join-back pass over the corpus tokens. The df cap
    # bounds every collected list at df_cap entries.
    kept = (
        tokens.groupBy("token")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= df_cap))
        .select(
            "token", F.size("ds").alias("df"),
            F.explode("ds").alias("doc_id"),
        )
    )
    # prefix via ONE doc-keyed aggregation (sort the doc's kept
    # shingles by rarity, slice the first half+1) — same result as a
    # row_number window but a single shuffle + single pass.
    # Checkpointed: it feeds BOTH sides of the posting self-join, and
    # un-materialized the whole kept+sort lineage would run twice.
    prefix = (
        kept.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "token"))).alias("ts")
        )
        .select(
            "doc_id",
            F.explode(
                F.slice(
                    "ts",
                    F.lit(1),
                    (F.floor(F.size("ts") / 2) + 1).cast("int"),
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.token").alias("token"))
        .localCheckpoint(eager=False)
    )
    return (
        prefix.select(F.col("doc_id").alias("doc_a"), "token")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "token"),
              "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )


def q104_ngram_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = token_state(spark, sf_dir)
    pairs = inverted_index_candidates(tokens)
    return (
        token_jaccard(tokens, pairs)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# --- q184: containment pairs (round 11) — the ASYMMETRIC near-dup
# class symmetric Jaccard structurally misses: a small document quoted
# verbatim inside a much larger one has containment
# C = |A∩B| / min(|A|,|B|) ≈ 1 while J = |A∩B| / |A∪B| ≈ |A|/|B| → 0,
# so no Jaccard threshold can catch it without flooding on unrelated
# pairs (Broder 1997 distinguishes resemblance from CONTAINMENT for
# exactly this reason; partial-copy dedup in training corpora is its
# modern use). Candidates come from the df-capped KEPT posting lists
# with the MIN_SHARED floor — q104's J-derived PPJoin slice does not
# transfer to containment, and the containment-VALID one-sided prefix
# was built and measured slower (see containment_candidates' A/B
# docstring; identical pairs, 3.8x the verify volume) — the df band
# [2, DF_CAP] bounds fan-out (q132's class). Verify is exact over
# FULL distinct-shingle sets
# (one array_intersect per pair), emitting both measures + an asym
# flag marking pairs q104's J >= 0.5 cut would have dropped.
CONTAINMENT_T = 0.8
# integer form of CONTAINMENT_T for the prefix length (avoids 0.8's
# binary-inexactness flipping a ceil at integer boundaries):
# ceil(0.8 * nk) == (4*nk + 4) // 5 for all integer nk
CONTAINMENT_NUM, CONTAINMENT_DEN = 4, 5
assert CONTAINMENT_NUM / CONTAINMENT_DEN == CONTAINMENT_T


def containment_candidates(
    tokens: DataFrame, df_cap: int = DF_CAP, one_sided_prefix: bool = False
) -> DataFrame:
    """(doc_a < doc_b) candidate pairs for containment >= CONTAINMENT_T
    over the KEPT shingles (df in [2, df_cap]).

    DEFAULT (measured winner): unprefixed kept×kept postings with the
    MIN_SHARED count floor — a containment pair shares >= t·|A_kept|
    tokens, so any pair whose small side keeps >= MIN_SHARED/t
    shingles clears the floor; the loss region is docs keeping fewer
    than ~4 eligible shingles (q104's documented small-doc caveat).

    ALTERNATIVE (``one_sided_prefix=True``): a ONE-SIDED PPJoin prefix
    that is valid for containment, unlike q104's J-derived slice — if
    C(A→B) >= t then >= ceil(t·|A|) of A's OWN tokens are shared, so
    A's prefix of its |A| − ceil(t·|A|) + 1 rarest kept shingles must
    contain one (pigeonhole; the bound needs nothing from B). Its
    count floor is 1 (all the theorem guarantees), which closes the
    small-doc hole — but floor 1 admits every single-token collision
    into the exact verify. MEASURED A/B at sf0.1 (round 11): both arms
    return the IDENTICAL 256 pairs, floor-3 2.7 s vs prefix-1 10.4 s
    end-to-end (10k vs 180k candidate pairs) — the theoretical recall
    edge bought nothing on this corpus and 3.8x the verify, so floor-3
    stays the default; flip the flag for corpora of very short docs
    where the <4-kept-shingles loss region is real."""
    kept = (
        tokens.groupBy("token")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= df_cap))
        .select(
            "token", F.size("ds").alias("df"),
            F.explode("ds").alias("doc_id"),
        )
    )
    if not one_sided_prefix:
        pairs = (
            kept.select(F.col("doc_id").alias("doc_a"), "token")
            .join(kept.select(F.col("doc_id").alias("doc_b"), "token"),
                  "token")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= MIN_SHARED)
        )
        return pairs.select("doc_a", "doc_b")
    prefix_len = (
        F.size("ts")
        - F.floor(
            (F.lit(CONTAINMENT_NUM) * F.size("ts") + F.lit(CONTAINMENT_NUM))
            / F.lit(float(CONTAINMENT_DEN))
        )
        + 1
    ).cast("int")
    prefix = (
        kept.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "token"))).alias("ts")
        )
        .select(
            "doc_id",
            F.explode(F.slice("ts", F.lit(1), prefix_len)).alias("s"),
        )
        .select("doc_id", F.col("s.token").alias("token"))
    )
    return (
        prefix.select(F.col("doc_id").alias("doc_p"), "token")
        .join(kept.select(F.col("doc_id").alias("doc_k"), "token"), "token")
        .filter(F.col("doc_p") != F.col("doc_k"))
        .select(
            F.least("doc_p", "doc_k").alias("doc_a"),
            F.greatest("doc_p", "doc_k").alias("doc_b"),
        )
        .distinct()
    )


def token_overlap(tokens: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact (doc_a, doc_b, n_inter, na, nb) for candidate pairs; the
    ONE verify definition both q104 (via token_jaccard) and q184
    consume — callers derive any overlap measure from the raw counts.

    Verify shape (round 8 — the old token-level intersection join cost
    two full passes over the corpus token table per verify): restrict
    ``tokens`` to the docs that actually appear in a candidate pair
    (semi joins — map-side when AQE broadcasts the pair list, a keyed
    shuffle otherwise), collapse each surviving doc to ONE
    (token-array, size) row, and compute each pair's intersection with
    a single ``array_intersect``. Only candidate docs' tokens ever
    move for the verify — at 100 TB the corpus token table is scanned
    once and never shuffled here."""
    pairs = pairs.localCheckpoint(eager=False)
    arr_a = (
        tokens.join(pairs.select(F.col("doc_a").alias("doc_id")),
                    "doc_id", "semi")
        .groupBy("doc_id")
        .agg(F.collect_list("token").alias("ta"), F.count("*").alias("na"))
        .withColumnRenamed("doc_id", "doc_a")
    )
    arr_b = (
        tokens.join(pairs.select(F.col("doc_b").alias("doc_id")),
                    "doc_id", "semi")
        .groupBy("doc_id")
        .agg(F.collect_list("token").alias("tb"), F.count("*").alias("nb"))
        .withColumnRenamed("doc_id", "doc_b")
    )
    return (
        pairs.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias(
                "n_inter"
            ),
            "na",
            "nb",
        )
    )


def q184_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = token_state(spark, sf_dir)
    cands = containment_candidates(tokens)
    ov = token_overlap(tokens, cands)
    containment = F.col("n_inter") / F.least("na", "nb").cast("double")
    jacc = F.col("n_inter") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return (
        ov.select(
            "doc_a",
            "doc_b",
            "n_inter",
            "na",
            "nb",
            eround(containment, 4).alias("containment"),
            eround(jacc, 4).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAINMENT_T)
        .withColumn(
            "asym",
            (F.col("jaccard") < F.lit(JACCARD_THRESHOLD)).cast("int"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _q184_oracle() -> str:
    return f"""
    WITH tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src="documents")}),
    dfreq AS (SELECT token, count(*) AS df FROM tokens GROUP BY token),
    kept AS (
      SELECT t.doc_id, t.token
      FROM tokens t JOIN dfreq d ON d.token = t.token
      WHERE d.df BETWEEN 2 AND {DF_CAP}
    ),
    cands AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b
        ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SHARED}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tokens GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cands c
      JOIN tokens x ON x.doc_id = c.doc_a
      JOIN tokens y ON y.doc_id = c.doc_b AND y.token = x.token
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, n_inter, na, nb, containment, jaccard,
           CAST(jaccard < {JACCARD_THRESHOLD} AS INTEGER) AS asym
    FROM (
      SELECT i.doc_a, i.doc_b,
             CAST(i.n_inter AS BIGINT) AS n_inter,
             sa.n AS na, sb.n AS nb,
             round(i.n_inter / CAST(least(sa.n, sb.n) AS DOUBLE), 4)
               AS containment,
             round(i.n_inter / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 4)
               AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    WHERE containment >= {CONTAINMENT_T}
    ORDER BY doc_a, doc_b
"""


# --- q48: SimHash-style signature (16-bit, md5-derived) — docs bucketed
# by signature; identical signatures ⇒ near-dup candidates. Bit i of the
# signature is the majority vote of bit i over the doc's token hashes.
def q48_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = distinct_tokens(docs)
    # token's 16-bit hash = first 4 hex chars of md5, parsed with one
    # conv() (round-10 A/B on the 60-bit cousin: conv beat the
    # per-char CASE chain 2.05 s vs 2.88 s on the signature build with
    # identical checksums; the DuckDB oracle keeps its arithmetic
    # chain — same integer either way).
    val = F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("int")
    with_bits = toks.withColumn("h16", val).select(
        "doc_id",
        *[
            (F.floor(F.col("h16") / (2 ** j)).cast("int") % 2).alias(f"b{j}")
            for j in range(16)
        ],
    )
    votes = with_bits.groupBy("doc_id").agg(
        *[F.avg(f"b{j}").alias(f"v{j}") for j in range(16)]
    )
    sig = F.lit(0)
    for j in range(16):
        sig = sig + F.when(F.col(f"v{j}") > 0.5, F.lit(2 ** j)).otherwise(0)
    return (
        votes.select("doc_id", sig.cast("long").alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n_docs").alias("largest_bucket"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_collision_buckets"
            ),
        )
    )


# --- q152: SimHash near-dup JOIN at a Hamming radius (Manku, Jain &
# Sarma 2007, "Detecting Near-Duplicates for Web Crawling"). q48 only
# buckets EXACT signatures; the web-dedup design finds pairs within
# Hamming distance r by splitting the signature into r+1 bands —
# pigeonhole: r differing bits cannot touch all r+1 bands, so every
# true pair shares at least one exact band. 60-bit signature (15 md5
# hex chars — stays positive in a signed BIGINT in both engines), 4
# bands of 15 bits, radius 3; verify is bit_count(xor) on the two
# signatures. All integer arithmetic (shifts/masks, never float
# division on the 60-bit value), identical in Spark and DuckDB.
SIMHAM_BITS = 60
SIMHAM_BANDS = 4
SIMHAM_RADIUS = SIMHAM_BANDS - 1
_SIMHAM_BAND_BITS = SIMHAM_BITS // SIMHAM_BANDS  # 15
_SIMHAM_MASK = (1 << _SIMHAM_BAND_BITS) - 1


def simhash_sig(docs: DataFrame, bits: int = SIMHAM_BITS) -> DataFrame:
    """(doc_id, h) — ``bits``-wide majority-vote SimHash; ``h`` is
    the signature column regardless of width, so the 40-bit A/B arm
    shares the schema (ADVICE r10). Votes run over each
    doc's distinct 3-word SHINGLES (q46's feature family, not q48's
    single tokens: on a small shared vocabulary single-token votes
    collapse — measured 271k hamming<=3 pairs among 5k docs at sf0.1 —
    while shingles are near-unique per doc, so unrelated docs land
    ~bits/2 apart and only true near-dups survive the radius).

    ``bits`` must be a multiple of 4 (hex nibbles) and <= 60: 15 md5
    hex chars keep the value positive in a signed BIGINT in BOTH
    engines. Wider signatures (Manku's f=64+) would need either
    unsigned-shift arithmetic or a two-BIGINT split — parameterize
    there only when the collision math below says a corpus needs it."""
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in (0, 60]: {bits}")
    toks = distinct_shingles(docs)
    # one conv() instead of a bits/4-deep per-char CASE chain —
    # interleaved A/B at sf0.1 (260k shingle rows): signature build
    # 2.88 s -> 2.05 s (-29%), bit_xor checksum identical. The DuckDB
    # oracle keeps the arithmetic chain; both compute the same integer.
    val = F.conv(
        F.substring(F.md5("token"), 1, bits // 4), 16, 10
    ).cast("long")
    with_h = toks.withColumn("h", val)
    votes = with_h.groupBy("doc_id").agg(
        *[
            F.avg(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(
                f"v{j}"
            )
            for j in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(
            F.col(f"v{j}") > 0.5, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", sig.alias("h"))


def simhash60(docs: DataFrame) -> DataFrame:
    """The engine-default 60-bit signature (see simhash_sig)."""
    return simhash_sig(docs, SIMHAM_BITS)


def simhash_hamming_pairs(
    sig: DataFrame, bits: int = SIMHAM_BITS, bands: int = SIMHAM_BANDS
) -> DataFrame:
    """(doc_a, doc_b, hamming) — every pair within Hamming radius
    ``bands - 1`` of a (doc_id, h) signature frame, via Manku-style
    banding: pigeonhole guarantees r differing bits cannot touch all
    r+1 bands, so every true pair shares at least one exact band.

    COLLISION MATH (the sizing rule for the two knobs — VERDICT r9
    Next #4): a chance (non-near-dup) pair collides in one band with
    probability ~2^-band_bits, so expected chance candidates ≈
    bands · C(n,2) / 2^(bits/bands). At the defaults (60 bits, 4
    bands → 15-bit bands) that is ~n²/2¹⁴: negligible at 5k docs
    (~1.5k candidates), ~6×10ⁱ¹ at n = 10⁹ — at multi-billion-doc
    scale either widen the bands (fewer bands → smaller radius) or
    widen the signature (Manku runs f = 64 with rotated tables).
    Candidate volume is measured, not just derived: the round-10
    scaling probe (in git history) A/B'd band_bits 15 vs 10 at the
    10×/100× tiers, pinning the 2^-band_bits cost curve before a real
    corpus needs the knob."""
    if bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    bands_df = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("h"), band_bits * b).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bval"),
    )
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    # (doc_a < doc_b) distinct candidate pairs sharing at least one band
    pairs = (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= bands - 1)
    )


def q152_simhash_hamming_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming-distance histogram of the SimHash near-dup pairs within
    radius 3: banded candidates (4 equi-joins expressed as one
    posexplode + self-join), then an exact bit_count(xor) verify —
    never an all-pairs comparison. The signature frame (ONE narrow row
    per doc — the per-doc-score-table class the checkpoint policy
    allows, unlike corpus-sized gram tables) is referenced three times
    (bands + both verify sides) AND shared with q170, so it comes from
    the session memo (simhash_state; the per-call lazy localCheckpoint
    it replaces measured 4.98 s recompute vs 3.30 s checkpointed at
    sf0.1 — the memo additionally removes the rebuild q170 paid)."""
    sig = simhash_state(spark, sf_dir)
    return (
        simhash_hamming_pairs(sig, SIMHAM_BITS, SIMHAM_BANDS)
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def _q152_oracle() -> str:
    hexv = (
        "(CASE WHEN ascii(substr(md5(token), {i}, 1)) >= 97 "
        "THEN ascii(substr(md5(token), {i}, 1)) - 87 "
        "ELSE ascii(substr(md5(token), {i}, 1)) - 48 END)"
    )
    val = "CAST(0 AS BIGINT)"
    for i in range(1, SIMHAM_BITS // 4 + 1):
        val = f"({val} * 16 + {hexv.format(i=i)})"
    vcols = ", ".join(
        f"avg((h >> {j}) & 1) AS v{j}" for j in range(SIMHAM_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0.5 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHAM_BITS)
    )
    band_rows = ",".join(f"({b})" for b in range(SIMHAM_BANDS))
    return f"""
      WITH tokens AS ({_SHINGLES_SQL.format(src="documents")}),
      hh AS MATERIALIZED (SELECT doc_id, {val} AS h FROM tokens),
      votes AS MATERIALIZED (
        SELECT doc_id, {vcols} FROM hh GROUP BY doc_id
      ),
      sig AS MATERIALIZED (SELECT doc_id, {sig} AS h60 FROM votes),
      bands AS (
        SELECT doc_id, t.b AS band,
               (h60 >> ({_SIMHAM_BAND_BITS} * t.b)) & {_SIMHAM_MASK}
                 AS bval
        FROM sig, (VALUES {band_rows}) AS t(b)
      ),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval
         AND a.doc_id < b.doc_id
      ),
      ham AS (
        SELECT CAST(bit_count(xor(sa.h60, sb.h60)) AS INT) AS hamming
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
      )
      SELECT hamming, count(*) AS n_pairs
      FROM ham WHERE hamming <= {SIMHAM_RADIUS}
      GROUP BY hamming ORDER BY hamming
    """


# --- q175: dedup threshold sensitivity sweep (round 11) — how much
# corpus each Jaccard cutoff would remove: per threshold, verified
# pair count, docs dropped under the local-minimum keeper rule
# (q130's: a doc goes when ANY smaller-id partner clears the cutoff)
# and the drop share. This is the table that chooses
# JACCARD_THRESHOLD before a 100 TB dedup pass commits to one — the
# retention analog of q168's nprobe sweep. Rides the memoized funnel:
# the exact-Jaccard verify runs ONCE over the candidate-bounded pair
# list; the sweep explodes thresholds over those pairs only (never
# the corpus). Thresholds compare against the 4dp-eround-ed jaccard,
# so the cut is engine-identical by construction.
DEDUP_THRESH_SWEEP = (0.5, 0.6, 0.7, 0.8, 0.9)


def q175_dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tokens, cands = shingle_state(spark, sf_dir)
    jac = token_jaccard(tokens, cands).localCheckpoint(eager=False)
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    sw = jac.select(
        "doc_b",
        "jaccard",
        F.explode(
            F.array(*[F.lit(t) for t in DEDUP_THRESH_SWEEP])
        ).alias("threshold"),
    ).filter(F.col("jaccard") >= F.col("threshold"))
    return (
        sw.groupBy("threshold")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
            eround(F.avg("jaccard"), 4).alias("avg_jaccard"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "threshold",
            "n_pairs",
            "n_docs_dropped",
            eround(
                F.col("n_docs_dropped") / F.col("n_docs").cast("double"), 6
            ).alias("drop_share"),
            "avg_jaccard",
        )
        .orderBy("threshold")
    )


def _q175_oracle() -> str:
    mh_mins = ", ".join(
        f"min(md5(concat(token, ':', {h}))) AS m{h}"
        for h in range(N_HASHES)
    )
    mh_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash "
        f"FROM mins"
        for b in range(N_HASHES // BAND_ROWS)
    )
    sweep_vals = ", ".join(f"({t})" for t in DEDUP_THRESH_SWEEP)
    return f"""
      WITH tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src="documents")}),
      mins AS MATERIALIZED (
        SELECT doc_id, {mh_mins} FROM tokens GROUP BY doc_id
      ),
      banded AS ({mh_bands}),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
      ),
      {_JACCARD_SQL},
      n AS (SELECT count(*) AS n_docs FROM documents),
      sw AS (
        SELECT j.doc_b, j.jaccard, s.threshold
        FROM jac j,
             (VALUES {sweep_vals}) s(threshold)
        WHERE j.jaccard >= s.threshold
      )
      SELECT threshold, count(*) AS n_pairs,
             CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped,
             round(count(DISTINCT doc_b)
                   / CAST(n.n_docs AS DOUBLE), 6) AS drop_share,
             round(avg(jaccard), 4) AS avg_jaccard
      FROM sw CROSS JOIN n
      GROUP BY threshold, n.n_docs ORDER BY threshold
    """


# --- q170: near-dup detector agreement matrix (round 11) — the
# choose-your-detector diagnostic: MinHash-LSH verified pairs (q46's
# set-Jaccard family) vs SimHash Hamming-radius pairs (q152's
# Manku family) on the same corpus, categorized both /
# minhash_only / simhash_only with each category's mean exact
# Jaccard and mean Hamming distance. The two detectors embed
# different similarity notions (set overlap vs bit-vote geometry);
# this table is the measured disagreement a pipeline reads before
# standardizing on one (or running both). Rides the memoized shingle
# funnel + one signature pass; ONE exact-Jaccard verify runs over the
# UNION of candidate sets (no circular two-pass verify), and Hamming
# is recomputed for every pair from the per-doc signature frame —
# both joins are candidate-bounded.
def q170_detector_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tokens, mcand = shingle_state(spark, sf_dir)
    sig = simhash_state(spark, sf_dir)
    sh = (
        simhash_hamming_pairs(sig, SIMHAM_BITS, SIMHAM_BANDS)
        .select("doc_a", "doc_b")
        .withColumn("in_sh", F.lit(1))
    )
    mc = mcand.withColumn("in_mc", F.lit(1))
    allp = (
        mc.join(sh, ["doc_a", "doc_b"], "full")
        .fillna(0, ["in_mc", "in_sh"])
        .localCheckpoint(eager=False)  # candidate-bounded pair list,
        # feeds the jaccard verify AND the hamming joins
    )
    jac = token_jaccard(tokens, allp.select("doc_a", "doc_b"))
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"))
    ham = (
        allp.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "in_mc",
            "in_sh",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming"),
        )
    )
    both = ham.join(jac, ["doc_a", "doc_b"])
    in_mh = (F.col("in_mc") == 1) & (
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    cat = (
        F.when(in_mh & (F.col("in_sh") == 1), "both")
        .when(in_mh, "minhash_only")
        .otherwise("simhash_only")
    )
    return (
        both.filter(in_mh | (F.col("in_sh") == 1))
        .select(cat.alias("category"), "jaccard", "hamming")
        .groupBy("category")
        .agg(
            F.count("*").alias("n_pairs"),
            eround(F.avg("jaccard"), 4).alias("avg_jaccard"),
            eround(F.avg("hamming"), 4).alias("avg_hamming"),
        )
        .orderBy("category")
    )


def _q170_oracle() -> str:
    """Union-verify SQL: both detectors' candidate chains, one
    jaccard pass over the union, category flags."""
    hexv = (
        "(CASE WHEN ascii(substr(md5(token), {i}, 1)) >= 97 "
        "THEN ascii(substr(md5(token), {i}, 1)) - 87 "
        "ELSE ascii(substr(md5(token), {i}, 1)) - 48 END)"
    )
    val = "CAST(0 AS BIGINT)"
    for i in range(1, SIMHAM_BITS // 4 + 1):
        val = f"({val} * 16 + {hexv.format(i=i)})"
    vcols = ", ".join(
        f"avg((h >> {j}) & 1) AS v{j}" for j in range(SIMHAM_BITS)
    )
    sigsum = " + ".join(
        f"(CASE WHEN v{j} > 0.5 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHAM_BITS)
    )
    band_rows = ",".join(f"({b})" for b in range(SIMHAM_BANDS))
    mh_mins = ", ".join(
        f"min(md5(concat(token, ':', {h}))) AS m{h}"
        for h in range(N_HASHES)
    )
    mh_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash "
        f"FROM mins"
        for b in range(N_HASHES // BAND_ROWS)
    )
    return f"""
      WITH tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src="documents")}),
      mins AS MATERIALIZED (
        SELECT doc_id, {mh_mins} FROM tokens GROUP BY doc_id
      ),
      mbanded AS ({mh_bands}),
      mcand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mbanded a JOIN mbanded b
          ON a.band = b.band AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
      ),
      hh AS (SELECT doc_id, {val} AS h FROM tokens),
      votes AS MATERIALIZED (
        SELECT doc_id, {vcols} FROM hh GROUP BY doc_id
      ),
      sig AS MATERIALIZED (SELECT doc_id, {sigsum} AS hsig FROM votes),
      sbands AS (
        SELECT doc_id, t.b AS band,
               (hsig >> ({_SIMHAM_BAND_BITS} * t.b)) & {_SIMHAM_MASK}
                 AS bval
        FROM sig, (VALUES {band_rows}) AS t(b)
      ),
      scand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sbands a JOIN sbands b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
      ),
      sh AS MATERIALIZED (
        SELECT p.doc_a, p.doc_b
        FROM scand p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
        WHERE bit_count(xor(sa.hsig, sb.hsig)) <= {SIMHAM_RADIUS}
      ),
      pairs AS MATERIALIZED (
        SELECT doc_a, doc_b,
               max(in_mc) AS in_mc, max(in_sh) AS in_sh
        FROM (
          SELECT doc_a, doc_b, 1 AS in_mc, 0 AS in_sh FROM mcand
          UNION ALL
          SELECT doc_a, doc_b, 0 AS in_mc, 1 AS in_sh FROM sh
        ) GROUP BY doc_a, doc_b
      ),
      {_JACCARD_SQL},
      tagged AS (
        SELECT p.in_mc, p.in_sh, j.jaccard,
               CAST(bit_count(xor(sa.hsig, sb.hsig)) AS INT) AS hamming
        FROM pairs p
        JOIN jac j ON j.doc_a = p.doc_a AND j.doc_b = p.doc_b
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
      )
      SELECT CASE
               WHEN in_mc = 1 AND jaccard >= {JACCARD_THRESHOLD}
                    AND in_sh = 1 THEN 'both'
               WHEN in_mc = 1 AND jaccard >= {JACCARD_THRESHOLD}
                    THEN 'minhash_only'
               ELSE 'simhash_only'
             END AS category,
             count(*) AS n_pairs,
             round(avg(jaccard), 4) AS avg_jaccard,
             round(avg(hamming), 4) AS avg_hamming
      FROM tagged
      WHERE (in_mc = 1 AND jaccard >= {JACCARD_THRESHOLD}) OR in_sh = 1
      GROUP BY category ORDER BY category
    """


# --- q118: INCREMENTAL dedup — near-dup an incoming batch against an
# already-indexed corpus without re-clustering the corpus. At 100 TB
# this is the shape that matters for ongoing ingestion: the corpus
# side's band signatures are a PERSISTED index (here derived in-query
# from the shared shingle memo so the oracle can replay it; a real
# deployment reads the band table written at index-build time, exactly
# like sketches.write_retention persists the retention list), and the
# per-ingest work is: shingle the NEW docs only → 8 minima per new doc
# → equi-join against the band index → exact-Jaccard verify on the
# collisions. Nothing touches old×old pairs. The batch split is
# deterministic (doc_id % 20 == 0 ≈ 5% "incoming") so both engines
# replay the identical scenario.
INGEST_MOD = 20


def incremental_near_dups(
    tokens: DataFrame, new_pred, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Near-dup pairs (new doc, indexed doc, jaccard) for the docs
    matching ``new_pred`` against the rest — candidates from the LSH
    band index, verified by exact shingle Jaccard. ``tokens`` is the
    (doc_id, token) shingle table; the indexed side's signatures are
    what a deployment would read back from the persisted band table."""
    sig = minhash_signatures_from_tokens(tokens)
    new_sig = sig.filter(new_pred(F.col("doc_id")))
    idx_sig = sig.filter(~new_pred(F.col("doc_id")))
    cands = (
        new_sig.alias("a")
        .join(
            idx_sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return token_jaccard(tokens, cands).filter(F.col("jaccard") >= threshold)


def write_dedup_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the indexed corpus's dedup state as parquet tables —
    the artifact a deployment builds ONCE at index time and every
    later ingest reads: ``{path}/tokens`` (shingle sets, needed by the
    exact-Jaccard verify) and ``{path}/bands`` (LSH band signatures,
    the candidate join key). Mirrors sketches.write_retention: cross-
    job reuse is a parquet read, never a recompute."""
    tokens = token_state(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_MOD != 0
    )
    # batch=-1 hive partitions so incremental batches (dedup_index_
    # update) can claim their own idempotent partitions
    tokens.write.mode("overwrite").parquet(f"{path}/tokens/batch=-1")
    minhash_signatures_from_tokens(tokens).write.mode("overwrite").parquet(
        f"{path}/bands/batch=-1"
    )


def dedup_index_update(
    spark: SparkSession, path: str, new_docs: DataFrame,
    batch_id: int = 0,
) -> None:
    """Admit a checked batch's shingles + band signatures into the
    persisted dedup index — the bm25_index_update pattern for the
    MinHash tier, turning q118's static-index stream into an EVOLVING
    one: once a batch is admitted, the NEXT batch's candidates include
    it, so near-dups that straddle micro-batch boundaries are caught
    (the cross-batch pair q118's static semantics deliberately skips).

    CRASH-SAFE BY CONSTRUCTION (hardened after the round-11 review
    found the plain-append protocol could duplicate token rows on
    replay — which silently DEFLATES exact Jaccard and suppresses true
    dup detections forever): both tables land as idempotent OVERWRITES
    of the batch's own hive partitions (tokens/batch={batch_id},
    bands/batch={batch_id}) — a replayed micro-batch rewrites the
    identical partitions; docs re-sent under a DIFFERENT batch id are
    dropped by an anti-join on the other partitions' doc_ids. Unlike
    BM25 there are no global derived tables, so no rebuild step
    exists and every crash point is healed by the replay itself —
    pinned by test_dedup_index_update_replay_idempotent."""
    indexed_other = (
        spark.read.parquet(f"{path}/bands")
        .filter(F.col("batch") != batch_id)
        .select("doc_id")
        .distinct()
    )
    fresh = new_docs.join(indexed_other, "doc_id", "anti")
    tokens = distinct_shingles(fresh).localCheckpoint(
        eager=False
    )  # batch-bounded; feeds both writes
    tokens.write.mode("overwrite").parquet(f"{path}/tokens/batch={batch_id}")
    minhash_signatures_from_tokens(tokens).write.mode("overwrite").parquet(
        f"{path}/bands/batch={batch_id}"
    )


def within_batch_dups(new_docs: DataFrame) -> DataFrame:
    """Near-dup pairs INSIDE one batch (band self-join over the
    batch's own signatures, exact-Jaccard verify) — the piece that
    makes the evolving stream's coverage independent of micro-batch
    boundaries: two twins arriving together are flagged here, twins
    split across batches by the index probe. Output matches
    incremental_dedup_from_index's schema: the LATER doc (larger id)
    is the flagged one."""
    new_tokens = distinct_shingles(new_docs)
    sigs = minhash_signatures_from_tokens(new_tokens)
    cands = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return (
        token_jaccard(new_tokens, cands)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(
            F.col("doc_b").alias("new_doc_id"),
            F.col("doc_a").alias("dup_of"),
            "jaccard",
        )
    )


def incremental_dedup_from_index(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> DataFrame:
    """Ingest-time dedup against a PERSISTED index: shingle the new
    batch, equi-join its signatures against the stored band table,
    verify candidates with exact Jaccard over stored + new shingles.
    The indexed corpus's text is never read, let alone re-shingled —
    provable from the plan (no documents scan; see
    test_incremental_from_persisted_index)."""
    # explicit column selects: the index tables carry a hive `batch`
    # partition column (the idempotent-update layout) that must not
    # leak into the union/join schemas
    idx_tokens = spark.read.parquet(f"{path}/tokens").select(
        "doc_id", "token"
    )
    idx_bands = spark.read.parquet(f"{path}/bands").select(
        "doc_id", "band", "minhash"
    )
    new_tokens = distinct_shingles(new_docs)
    cands = (
        minhash_signatures_from_tokens(new_tokens)
        .alias("a")
        .join(
            idx_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    jac = token_jaccard(idx_tokens.union(new_tokens), cands)
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
    )


def evolving_dedup_batch(
    spark: SparkSession, path: str, batch_df: DataFrame, batch_id: int
) -> DataFrame:
    """One micro-batch of q118's stream with an EVOLVING index: check
    the batch against everything indexed SO FAR and against its own
    members (within_batch_dups), then admit it (dedup_index_update's
    idempotent batch partitions). So a near-dup pair is flagged on the
    later doc whether the two arrive in the same micro-batch or in
    different ones. REPLAY-CLEAN: the index probe anti-joins its hits
    against the batch's own doc_ids, so a replayed batch (whose
    partitions the index already holds) emits exactly the rows a
    no-crash run would — no self-pairs, no doubled intra-batch pairs.
    With a single batch the rows equal q118 ∪
    within_batch_dups(arrivals) exactly."""
    own_ids = batch_df.select(F.col("doc_id").alias("dup_of"))
    idx_hits = incremental_dedup_from_index(spark, path, batch_df).join(
        own_ids, "dup_of", "anti"
    )
    hits = (
        idx_hits.select("new_doc_id", "dup_of", "jaccard")
        .unionByName(within_batch_dups(batch_df))
        .localCheckpoint()  # materialize BEFORE the index evolves
    )
    dedup_index_update(spark, path, batch_df, batch_id)
    return hits


def q118_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = token_state(spark, sf_dir)
    out = incremental_near_dups(
        tokens, lambda c: c % INGEST_MOD == 0
    )
    return out.select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
    ).orderBy("new_doc_id", "dup_of")


# --- q125: fuzzy (edit-distance) near-dup verification — the string-
# similarity tier of the dedup stack: Levenshtein distance between
# 120-char document prefixes, computed ONLY for the LSH candidate
# pairs (the same shared band-join state as q46). Levenshtein is
# integer-exact and identically defined in Spark and DuckDB, so the
# oracle checks distances, not just counts. Scale shape: candidate
# generation is the bucket equi-join (never all-pairs); the verify
# join projects each side down to its 120-char prefix BEFORE the
# shuffle, so no full document text moves; per-pair cost is bounded
# at 120×120 cell updates.
LEV_PREFIX = 120
LEV_MAX = 30


def q125_fuzzy_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cands = shingle_state(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    prefix = docs.select(
        "doc_id", F.substring(F.lower(F.trim("text")), 1, LEV_PREFIX).alias("p")
    )
    pa = prefix.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    pb = prefix.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    return (
        cands.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= LEV_MAX)
        .orderBy("doc_a", "doc_b")
    )


def _q125_oracle() -> str:
    return f"""
        WITH tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src="documents")}),
        mins AS MATERIALIZED (
          SELECT doc_id,
                 {", ".join(f"min(md5(concat(token, ':', {h}))) AS m{h}" for h in range(N_HASHES))}
          FROM tokens GROUP BY doc_id
        ),
        banded AS MATERIALIZED (
          {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash FROM mins"
            for b in range(N_HASHES // BAND_ROWS)
          )}
        ),
        pairs AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
        ),
        pref AS (
          SELECT doc_id, substr(lower(trim(text)), 1, {LEV_PREFIX}) AS p
          FROM documents
        )
        SELECT p.doc_a, p.doc_b,
               CAST(levenshtein(a.p, b.p) AS INT) AS edit_distance
        FROM pairs p
        JOIN pref a ON a.doc_id = p.doc_a
        JOIN pref b ON b.doc_id = p.doc_b
        WHERE levenshtein(a.p, b.p) <= {LEV_MAX}
        ORDER BY doc_a, doc_b
    """


# --- q127: cross-source LEAKAGE MATRIX — which corpus slices
# near-duplicate into which. The train/test-leakage report a data lead
# reads before trusting an eval split: every verified near-dup pair
# (the same shared LSH funnel state as q46) is attributed to its
# normalized (source_a <= source_b) slice pair; the diagonal shows
# intra-source duplication load, the off-diagonal shows leakage.
# Scale shape: reuses the memoized shingle/candidate state; the only
# new work is two narrow broadcast-able (doc_id, source) joins and a
# |sources|²-key aggregate — free at any corpus size once the dedup
# funnel exists.
def q127_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens, cands = shingle_state(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    jac = token_jaccard(tokens, cands).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    attributed = jac.join(
        F.broadcast(src.select(F.col("doc_id").alias("doc_a"),
                               F.col("source").alias("sa"))), "doc_a"
    ).join(
        F.broadcast(src.select(F.col("doc_id").alias("doc_b"),
                               F.col("source").alias("sb"))), "doc_b"
    )
    return (
        attributed.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_dup_pairs"),
            eround(1e-9 + F.avg("jaccard"), 4).alias("avg_jaccard"),
            eround(F.max("jaccard"), 4).alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --- q131: duplicated-span analysis — the exact-substring-dedup
# diagnostic (Lee et al. 2021 "Deduplicating Training Data Makes
# Language Models Better", public): what fraction of each document's
# SPAN_N-gram positions is part of a run that also appears verbatim
# in ANOTHER document. Unlike the Jaccard tier this counts every
# position (not distinct shingles), so it measures how much TEXT is
# duplicated, not how many docs are similar. Scale shape: the
# position explode is linear in corpus tokens; cross-doc detection is
# min(doc)!=max(doc) per gram — a two-value aggregate, NO distinct
# count and NO pair join, so a ubiquitous gram costs the same as a
# rare one (skew-proof without a df cap).
SPAN_N = 20


def _gram_key(col):
    """Compact 64-bit shuffle/join key for the span family's grams.

    The key never reaches any output — every consumer (q131/q132/q134/
    q135/q157/q158/q159/q180 and the streaming twins) only counts or
    position-matches on it — so it must merely be consistent within a
    lineage and collision-free in practice (64-bit xxhash64 over ~1e6
    grams: P[collision] ≈ n²/2⁶⁵ < 1e-7, the same class of assumption
    the previous md5 key already made). xxhash64 is codegen-native and
    its key is 8 bytes where md5's was a 32-char string — guide §2.3's
    "narrower types" applied to the family's largest shuffles. The
    DuckDB oracles keep md5: outputs are hash-independent, pinned by
    the unchanged driver hashes (r14 A/B at sf0.1, interleaved
    min-of-6 on the q131 shape with the scan fan-out in place:
    md5 1.24 s vs xxhash64 1.13 s; identical results)."""
    return F.xxhash64(col)


def _span_totals(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, source, n_pos) — per-doc gram-position counts computed
    NARROWLY from token counts (a doc of L >= n tokens has exactly
    L - n + 1 overlapping n-gram positions; shorter docs have none and
    are absent, exactly like the exploded count). Replaces a full
    corpus gram explode wherever a consumer only needed the
    denominator (q131/q180/q135 and the gate twins)."""
    arr = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        (F.size(arr) - F.lit(n - 1)).cast("long").alias("n_pos"),
    ).filter(F.col("n_pos") > 0)


def _span_grams(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, source, g) — every overlapping n-gram position (NOT
    deduped within a doc; same narrow transform as distinct_shingles).
    The scan fans out first: the explode+hash is the family's CPU wall
    and an under-partitioned input serializes it (r14: the whole span
    tier ran its explode in ONE task at sf0.1 — q131 2.41 s -> 1.05 s
    with the fan-out; no-op when the input already has ≥cores splits)."""
    docs = fan_out_scan(docs.sparkSession, docs)
    arr = tokens(F.col("text"))
    base = docs.select("doc_id", "source", arr.alias("arr"))
    return base.select(
        "doc_id", "source", F.explode(word_ngrams("arr", n)).alias("g")
    )


def q131_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grams are read three times (cross-doc agg, per-doc totals, semi
    # probe) but NOT materialized — the table is corpus-sized and
    # checkpointing frames of that size measured far slower at the
    # 100x tier than re-running the explode (same finding as
    # dsir_weights). Hashing each ~130-char 20-gram to its 32-char md5
    # before the shuffles shrinks them 4x; equality grouping on md5 is
    # semantically identical in both engines.
    #
    # Round-9 shape (interleaved A/B at three tiers): per-doc totals
    # come from a direct doc-keyed agg and only the DUPLICATED-gram
    # subset drives a semi join — the old full join-back re-shuffled
    # every gram row against the cross-doc table, while the dup subset
    # is small enough for AQE to broadcast, so the probe side never
    # shuffles. Measured (min-of-N, same session, identical results):
    # sf0.1 3.11->3.39s (third scan costs ~9% at toy scale), 10x
    # 4.17->3.37s (-19%), 100x 38.3->16.8s (-56%) — the scale tier
    # wins decisively, which is the tier this query exists for.
    docs = load_table(spark, sf_dir, "documents")
    grams = _span_grams(docs).select(
        "doc_id", "source", _gram_key("g").alias("g")
    )
    dup_grams = (
        grams.groupBy("g")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("dup"))
        .filter("dup")
        .select("g")
    )
    # per-doc position totals need NO explode: a doc of L tokens has
    # exactly L - (SPAN_N - 1) gram positions (r14 — drops one of the
    # query's three corpus explodes; same identity the oracle's
    # count(*) reproduces)
    totals = _span_totals(docs)
    hits = (
        grams.join(dup_grams, "g", "semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    per_doc = totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_pos",
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_pos").alias("n_positions"),
            F.sum("n_dup").alias("n_dup_positions"),
            eround(
                1e-9 + F.sum("n_dup") / F.sum("n_pos").cast("double"), 4
            ).alias("dup_share"),
            F.sum(F.when(F.col("n_dup") > 0, 1).otherwise(0)).alias(
                "n_docs_with_dup"
            ),
        )
        .orderBy("source")
    )


_Q131_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    dup_grams AS (
      SELECT g FROM grams GROUP BY g HAVING min(doc_id) != max(doc_id)
    ),
    totals AS (
      SELECT doc_id, source, count(*) AS n_pos
      FROM grams GROUP BY doc_id, source
    ),
    hits AS (
      SELECT gr.doc_id, count(*) AS n_dup
      FROM grams gr JOIN dup_grams USING (g) GROUP BY gr.doc_id
    ),
    per_doc AS (
      SELECT t.doc_id, t.source, t.n_pos, COALESCE(h.n_dup, 0) AS n_dup
      FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_pos) AS BIGINT) AS n_positions,
           CAST(sum(n_dup) AS BIGINT) AS n_dup_positions,
           round(1e-9 + sum(n_dup) / CAST(sum(n_pos) AS DOUBLE), 4)
             AS dup_share,
           CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_dup
    FROM per_doc GROUP BY source ORDER BY source
"""


# --- q180: memorization-risk sweep (round 11) — Carlini et al. 2022
# ("Quantifying Memorization Across Neural Language Models") and Lee
# et al. 2022 both show memorization probability scales with HOW MANY
# documents repeat a span, not just whether it repeats: q131 answers
# "is this position duplicated at all" (k>=2); this prices the whole
# CURVE — for each k in MEM_RISK_KS, the share of corpus token
# positions whose SPAN_N-gram occurs in >= k distinct documents, and
# the share of docs carrying at least one such position. The table a
# dedup-policy review reads next to q175's threshold sweep: how much
# text sits above each duplication count, per source. Scale shape:
# one positional explode (q131's class), a two-level distinct to
# per-gram doc counts (never countDistinct on the skewed gram
# column), the >=2 subset joins back (AQE-broadcastable — q131's
# measured finding), and the k-sweep explodes over the BOUNDED
# (source, ndocs) histogram, never over positions. A (source, k)
# scaffold keeps zero rows present so the sweep is always |sources|x|k|.
MEM_RISK_KS = (2, 3, 5, 10)


def q180_memorization_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    grams = _span_grams(docs).select(
        "doc_id", "source", _gram_key("g").alias("g")
    )
    ndocs = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
    )
    # two consumers (pos_hist + doc_max): checkpoint so the gram
    # explode + two-level distinct behind it run once per call, not
    # once per branch (narrow (doc_id, source, ndocs) rows, duplicated
    # positions only — NOT the corpus-sized gram frame the q131
    # finding bans from checkpoints)
    hits = (
        grams.join(ndocs, "g")
        .select("doc_id", "source", "ndocs")
        .localCheckpoint(eager=False)
    )
    ks = F.array(*[F.lit(k) for k in MEM_RISK_KS])
    pos_hist = hits.groupBy("source", "ndocs").agg(
        F.count("*").alias("npos")
    )
    at_risk = (
        pos_hist.select(
            "source", "ndocs", "npos", F.explode(ks).alias("k")
        )
        .filter(F.col("ndocs") >= F.col("k"))
        .groupBy("source", "k")
        .agg(F.sum("npos").alias("at_risk_positions"))
    )
    doc_max = hits.groupBy("doc_id", "source").agg(
        F.max("ndocs").alias("maxc")
    )
    touched = (
        doc_max.select("source", "maxc", F.explode(ks).alias("k"))
        .filter(F.col("maxc") >= F.col("k"))
        .groupBy("source", "k")
        .agg(F.count("*").alias("docs_touched"))
    )
    # denominators without a fourth corpus explode (see _span_totals)
    src_totals = _span_totals(docs).groupBy("source").agg(
        F.sum("n_pos").alias("tot_pos"), F.count("*").alias("tot_docs")
    )
    scaffold = src_totals.select(
        "source", "tot_pos", "tot_docs", F.explode(ks).alias("k")
    )
    return (
        scaffold.join(at_risk, ["source", "k"], "left")
        .join(touched, ["source", "k"], "left")
        .select(
            "source",
            "k",
            F.coalesce("at_risk_positions", F.lit(0)).alias(
                "at_risk_positions"
            ),
            eround(
                F.coalesce("at_risk_positions", F.lit(0))
                / F.col("tot_pos").cast("double"),
                4,
            ).alias("position_share"),
            F.coalesce("docs_touched", F.lit(0)).alias("docs_touched"),
            eround(
                F.coalesce("docs_touched", F.lit(0))
                / F.col("tot_docs").cast("double"),
                4,
            ).alias("doc_share"),
        )
        .orderBy("source", "k")
    )


_Q180_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, source,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    ndocs AS MATERIALIZED (
      SELECT g, count(*) AS ndocs FROM (
        SELECT DISTINCT doc_id, g FROM grams
      ) GROUP BY g HAVING count(*) >= 2
    ),
    hits AS MATERIALIZED (
      SELECT gr.doc_id, gr.source, n.ndocs
      FROM grams gr JOIN ndocs n USING (g)
    ),
    ks AS (SELECT unnest({list(MEM_RISK_KS)}) AS k),
    pos_hist AS (
      SELECT source, ndocs, count(*) AS npos
      FROM hits GROUP BY source, ndocs
    ),
    at_risk AS (
      SELECT p.source, ks.k,
             CAST(sum(p.npos) AS BIGINT) AS at_risk_positions
      FROM pos_hist p JOIN ks ON p.ndocs >= ks.k
      GROUP BY p.source, ks.k
    ),
    doc_max AS (
      SELECT doc_id, source, max(ndocs) AS maxc
      FROM hits GROUP BY doc_id, source
    ),
    touched AS (
      SELECT d.source, ks.k, CAST(count(*) AS BIGINT) AS docs_touched
      FROM doc_max d JOIN ks ON d.maxc >= ks.k
      GROUP BY d.source, ks.k
    ),
    src_totals AS (
      SELECT source, CAST(sum(n_pos) AS BIGINT) AS tot_pos,
             CAST(count(*) AS BIGINT) AS tot_docs
      FROM (
        SELECT doc_id, source, count(*) AS n_pos
        FROM grams GROUP BY doc_id, source
      ) GROUP BY source
    ),
    scaffold AS (
      SELECT s.source, s.tot_pos, s.tot_docs, ks.k
      FROM src_totals s CROSS JOIN ks
    )
    SELECT sc.source, sc.k,
           COALESCE(a.at_risk_positions, 0) AS at_risk_positions,
           round(COALESCE(a.at_risk_positions, 0)
                 / CAST(sc.tot_pos AS DOUBLE), 4) AS position_share,
           COALESCE(t.docs_touched, 0) AS docs_touched,
           round(COALESCE(t.docs_touched, 0)
                 / CAST(sc.tot_docs AS DOUBLE), 4) AS doc_share
    FROM scaffold sc
    LEFT JOIN at_risk a ON a.source = sc.source AND a.k = sc.k
    LEFT JOIN touched t ON t.source = sc.source AND t.k = sc.k
    ORDER BY sc.source, sc.k
"""


# --- q132: INCREMENTAL span contamination — q131's diagnostic at
# ingest time (the q118 pattern): an incoming batch's 20-gram
# positions are checked against the INDEXED corpus's distinct-gram
# table, never old×old. At 100 TB the index is a persisted md5-gram
# table (here derived in-query from the same deterministic
# doc_id % INGEST_MOD split as q118 so the oracle replays the
# identical scenario); per-ingest work is the batch's own gram
# explode + one equi-join against the index. The per-doc dup_share
# is the admission gate a pipeline would threshold on.
def q132_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new_grams = _span_grams(
        docs.filter(F.col("doc_id") % INGEST_MOD == 0)
    ).select("doc_id", "source", _gram_key("g").alias("g"))
    index = (
        _span_grams(docs.filter(F.col("doc_id") % INGEST_MOD != 0))
        .select(_gram_key("g").alias("g"))
        .distinct()
    )
    flagged = new_grams.join(index.withColumn("_hit", F.lit(True)), "g",
                             "left")
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_pos"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("n_dup"),
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_pos",
        "n_dup",
        eround(
            1e-9 + F.col("n_dup") / F.col("n_pos").cast("double"), 4
        ).alias("dup_share"),
    ).orderBy("doc_id")


_Q132_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    idx AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {INGEST_MOD} != 0
    ),
    flagged AS (
      SELECT n.doc_id, n.source,
             CASE WHEN i.g IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM grams n LEFT JOIN idx i ON i.g = n.g
      WHERE n.doc_id % {INGEST_MOD} = 0
    ),
    per_doc AS (
      SELECT doc_id, source, count(*) AS n_pos, sum(hit) AS n_dup
      FROM flagged GROUP BY doc_id, source
    )
    SELECT doc_id, source,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_dup AS BIGINT) AS n_dup,
           round(1e-9 + n_dup / CAST(n_pos AS DOUBLE), 4) AS dup_share
    FROM per_doc ORDER BY doc_id
"""


# Streaming-ingest support for the span gate (q132's twin): the
# distinct-gram index is built ONCE batch-side and persisted; each
# arriving micro-batch explodes only its own grams and equi-joins the
# index — the write_funnel_state / funnel_apply_batch pattern.
def write_span_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the indexed corpus's distinct gram-key table as parquet
    (the doc_id % INGEST_MOD != 0 slice, same deterministic split as
    q118/q132 so the stream twin replays the identical scenario)."""
    docs = load_table(spark, sf_dir, "documents")
    (
        _span_grams(docs.filter(F.col("doc_id") % INGEST_MOD != 0))
        .select(_gram_key("g").alias("g"))
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def span_gate_batch_longest(
    spark: SparkSession, index_path: str, batch_df: DataFrame
) -> DataFrame:
    """One micro-batch through the LONGEST-SPAN gate (q135's streaming
    twin, same persisted distinct-gram index as span_gate_batch): the
    batch's positional grams semi-join the index, runs collapse via
    the gaps-and-islands window, and each doc comes back with its
    longest verbatim overlap + the admit verdict. Per-doc outcomes are
    IDENTICAL to q135's for the same docs (asserted by
    test_twin_sink_equals_batch[incremental_span_gate])."""
    return _longest_gate(batch_df, spark.read.parquet(index_path))


def span_gate_batch(
    spark: SparkSession, index_path: str, batch_df: DataFrame
) -> DataFrame:
    """One micro-batch through the ingest gate: the batch's own grams
    vs the persisted index. Per-doc outcomes are IDENTICAL to q132's
    for the same docs — the index is state, so batch boundaries can't
    change any answer (asserted by
    test_twin_sink_equals_batch[incremental_spans])."""
    index = spark.read.parquet(index_path)
    flagged = (
        _span_grams(batch_df)
        .select("doc_id", "source", _gram_key("g").alias("g"))
        .join(index.withColumn("_hit", F.lit(True)), "g", "left")
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_pos"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("n_dup"),
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_pos",
        "n_dup",
        eround(
            1e-9 + F.col("n_dup") / F.col("n_pos").cast("double"), 4
        ).alias("dup_share"),
    )


# --- q134: LONGEST duplicated span per document — the length
# diagnostic q131's share metric can't express (Lee et al.'s
# exact-substring dedup acts on runs >= a length threshold, so the
# decision input is "how LONG are the duplicated runs", not "how many
# positions are duplicated"). Consecutive duplicated gram positions
# collapse to runs via the classic pos - row_number() gaps-and-islands
# grouping; a run of L consecutive SPAN_N-gram positions covers
# L + SPAN_N - 1 words of verbatim duplicated text. Scale shape: the
# gram explode and min!=max cross-doc aggregate are q131's (linear,
# skew-proof); the only addition is a per-DOC window over the (small)
# duplicated-position subset — partitioned by doc_id, never global.
def _span_grams_pos(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, source, pos, g) — every overlapping n-gram with its
    1-based position (the positional twin of :func:`_span_grams`;
    grams hashed to the 64-bit _gram_key before any shuffle, same as the q131 tier).
    Fans out the scan first — see _span_grams."""
    docs = fan_out_scan(docs.sparkSession, docs)
    arr = tokens(F.col("text"))
    base = docs.select("doc_id", "source", arr.alias("arr"))
    return base.select(
        "doc_id", "source", F.posexplode(word_ngrams("arr", n)).alias("pos0", "g")
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"),
             _gram_key("g").alias("g"))


def q134_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    grams = _span_grams_pos(load_table(spark, sf_dir, "documents"))
    # unlike q131 (which needs the non-dup counts too), only the
    # DUPLICATED grams matter here — pre-filtering the cross-doc agg
    # to its dup subset shrinks the join-back's build side to the
    # (typically small) duplicated-gram set before any row moves
    dup_grams = (
        grams.groupBy("g")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("dup"))
        .filter("dup")
        .select("g")
    )
    flagged = grams.join(dup_grams, "g").select("doc_id", "source", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
    per_run = runs.groupBy("doc_id", "source", "grp").agg(
        (F.count("*") + F.lit(SPAN_N - 1)).alias("span_words")
    )
    per_doc = per_run.groupBy("doc_id", "source").agg(
        F.max("span_words").alias("longest")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_with_dup"),
            F.max("longest").alias("max_span_words"),
            eround(1e-9 + F.avg("longest"), 4).alias("avg_longest_span"),
        )
        .orderBy("source")
    )


_Q134_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(range(1, len(arr) - {SPAN_N - 2})) AS pos,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    dup_grams AS (
      SELECT g FROM grams GROUP BY g HAVING min(doc_id) != max(doc_id)
    ),
    flagged AS (
      SELECT gr.doc_id, gr.source, gr.pos
      FROM grams gr JOIN dup_grams c ON c.g = gr.g
    ),
    runs AS (
      SELECT doc_id, source,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM flagged
    ),
    per_run AS (
      SELECT doc_id, source, grp, count(*) + {SPAN_N - 1} AS span_words
      FROM runs GROUP BY doc_id, source, grp
    ),
    per_doc AS (
      SELECT doc_id, source, max(span_words) AS longest
      FROM per_run GROUP BY doc_id, source
    )
    SELECT source, count(*) AS n_docs_with_dup,
           CAST(max(longest) AS BIGINT) AS max_span_words,
           round(1e-9 + avg(longest), 4) AS avg_longest_span
    FROM per_doc GROUP BY source ORDER BY source
"""


# --- q135: incremental LONGEST-SPAN ingest gate — q134's length
# diagnostic at ingest time (completing the symmetry q131↔q132 /
# q134↔q135): an incoming doc's longest run of positions whose grams
# already exist in the indexed corpus is the quantity exact-substring
# admission policies threshold on (a doc sharing 40+ verbatim words
# with the corpus is boilerplate/contamination even when its overall
# dup_share is low). Per-ingest work is the batch's own positional
# gram explode + one semi-join against the distinct-gram index —
# never old×old — plus a doc_id-partitioned window over the (small)
# hit subset.
SPAN_GATE_MAX_WORDS = 2 * SPAN_N  # admit iff longest run < 40 words


def _longest_gate(batch_df: DataFrame, index: DataFrame) -> DataFrame:
    """Core of the longest-span gate: positional grams of the NEW docs
    semi-join the distinct-gram ``index``, hit runs collapse via the
    doc_id-partitioned gaps-and-islands window, and every doc comes
    back with (n_pos, n_dup, longest_span_words, admit). Takes the
    batch DOCS (not a gram frame) so the denominators come from the
    narrow _span_totals identity instead of a second gram explode."""
    from pyspark.sql import Window

    new_grams = _span_grams_pos(batch_df)
    totals = _span_totals(batch_df)
    hits = new_grams.join(index, "g", "semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    per_run = (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg((F.count("*") + F.lit(SPAN_N - 1)).alias("span_words"))
    )
    per_doc = per_run.groupBy("doc_id").agg(
        F.max("span_words").alias("longest"),
        F.sum(F.col("span_words") - F.lit(SPAN_N - 1)).alias("n_dup"),
    )
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_pos",
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
        F.coalesce("longest", F.lit(0)).alias("longest_span_words"),
        (F.coalesce("longest", F.lit(0)) < SPAN_GATE_MAX_WORDS).alias(
            "admit"
        ),
    )


def q135_incremental_span_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    index = (
        _span_grams(docs.filter(F.col("doc_id") % INGEST_MOD != 0))
        .select(_gram_key("g").alias("g"))
        .distinct()
    )
    return _longest_gate(
        docs.filter(F.col("doc_id") % INGEST_MOD == 0), index
    ).orderBy("doc_id")


_Q135_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(range(1, len(arr) - {SPAN_N - 2})) AS pos,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    idx AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {INGEST_MOD} != 0
    ),
    totals AS (
      SELECT doc_id, source, count(*) AS n_pos FROM grams
      WHERE doc_id % {INGEST_MOD} = 0 GROUP BY doc_id, source
    ),
    hits AS (
      SELECT gr.doc_id, gr.pos FROM grams gr JOIN idx USING (g)
      WHERE gr.doc_id % {INGEST_MOD} = 0
    ),
    per_run AS (
      SELECT doc_id,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM hits
    ),
    run_agg AS (
      SELECT doc_id, grp, count(*) + {SPAN_N - 1} AS span_words
      FROM per_run GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id, max(span_words) AS longest,
             sum(span_words - {SPAN_N - 1}) AS n_dup
      FROM run_agg GROUP BY doc_id
    )
    SELECT t.doc_id, t.source, CAST(t.n_pos AS BIGINT) AS n_pos,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
           CAST(COALESCE(p.longest, 0) AS BIGINT) AS longest_span_words,
           COALESCE(p.longest, 0) < {SPAN_GATE_MAX_WORDS} AS admit
    FROM totals t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    ORDER BY t.doc_id
"""


# --- q157/q158: cross-doc duplicated-span STRIP — the dedup ACTION on
# q131/q134's diagnostics (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better": remove every later occurrence of
# a duplicated span, keep the first). q101 drops WHOLE near-dup docs;
# this strips surgically: a token position in doc d is removed when it
# lies inside a SPAN_N-gram occurrence whose FIRST owner (min doc_id
# over the corpus) is a smaller doc id — first-occurrence-wins, fully
# deterministic, and the owner doc keeps its text intact. The
# within-source boilerplate strip (q155) is the 4-gram/threshold
# cousin; this one is cross-doc and unconditional.
#
# Scale shape (the q131 reshape lesson applied from birth): the
# positional gram explode is linear in corpus tokens; owners are
# computed ONLY for the duplicated-gram subset (min!=max cross-doc
# agg → small by construction → AQE-broadcastable), so the probe join
# back to the gram table never reshuffles the corpus side against a
# corpus-sized build; covered positions collapse to one row per
# touched doc and the rewrite is one doc_id equi-join + a
# higher-order-function filter — no UDF, no window.
def dedup_span_strip(docs: DataFrame) -> DataFrame:
    """Per-TOUCHED-doc materialization: (doc_id, source, tokens_before,
    tokens_removed, clean_text) for every doc that loses at least one
    position to a cross-doc duplicated span."""
    pg = _span_grams_pos(docs)
    owners = (
        pg.groupBy("g")
        .agg(
            F.min("doc_id").alias("owner"),
            (F.min("doc_id") != F.max("doc_id")).alias("dup"),
        )
        .filter("dup")
        .select("g", "owner")
    )
    flagged = (
        pg.join(owners, "g")
        .filter(F.col("doc_id") > F.col("owner"))
        .select("doc_id", "pos")
    )
    return _rewrite_without_spans(docs, flagged)


def _rewrite_without_spans(
    docs: DataFrame, flagged: DataFrame, n: int = SPAN_N
) -> DataFrame:
    """Shared strip rewrite (q157 cross-doc, q159 ingest): expand the
    flagged (doc_id, pos) starts to covered positions, collapse to one
    sorted array per touched doc, equi-join back and filter the token
    array with a higher-order lambda — no UDF, no window."""
    covered = (
        flagged.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("cpos")).alias("cov"))
    )
    arr = tokens(F.col("text"))
    base = docs.select("doc_id", "source", arr.alias("arr"))
    return (
        base.join(covered, "doc_id")
        .select(
            "doc_id",
            "source",
            F.size("arr").cast("long").alias("tokens_before"),
            F.size("cov").cast("long").alias("tokens_removed"),
            F.concat_ws(
                " ",
                F.filter(
                    "arr",
                    lambda x, i: ~F.array_contains(
                        F.col("cov"), (i + 1).cast("int")
                    ),
                ),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def q157_dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_span_strip(load_table(spark, sf_dir, "documents"))


def dedup_span_strip_stats(docs: DataFrame) -> DataFrame:
    """Per-source accounting for the q157 strip — tokens kept/removed
    and docs touched, the number a corpus owner reads before shipping
    the deduplicated text."""
    arr = tokens(F.col("text"))
    totals = (
        docs.select("source", F.size(arr).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("tokens_total"),
        )
    )
    touched = dedup_span_strip(docs).groupBy("source").agg(
        F.count("*").alias("docs_touched"),
        F.sum("tokens_removed").alias("tokens_removed"),
    )
    return (
        totals.join(touched, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("docs_touched", F.lit(0)).alias("docs_touched"),
            "tokens_total",
            F.coalesce("tokens_removed", F.lit(0)).alias("tokens_removed"),
            eround(
                F.lit(1e-9)
                + F.coalesce("tokens_removed", F.lit(0)).cast("double")
                / F.col("tokens_total"),
                4,
            ).alias("removed_share"),
        )
        .orderBy("source")
    )


def q158_dedup_span_strip_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dedup_span_strip_stats(load_table(spark, sf_dir, "documents"))


_SPAN_STRIP_CTES = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    pgrams AS (
      SELECT doc_id, source,
             unnest(range(1, len(arr) - {SPAN_N - 2})) AS pos,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    owners AS (
      SELECT g, min(doc_id) AS owner
      FROM pgrams GROUP BY g HAVING min(doc_id) != max(doc_id)
    ),
    covered AS (
      SELECT doc_id,
             list_sort(list_distinct(flatten(list(
               range(pos, pos + {SPAN_N})
             )))) AS cov
      FROM (
        SELECT p.doc_id, p.pos
        FROM pgrams p JOIN owners o ON o.g = p.g
        WHERE p.doc_id > o.owner
      ) GROUP BY doc_id
    )
"""

_Q157_ORACLE = (
    _SPAN_STRIP_CTES
    + """
    SELECT b.doc_id, b.source,
           CAST(len(b.arr) AS BIGINT) AS tokens_before,
           CAST(len(c.cov) AS BIGINT) AS tokens_removed,
           coalesce(array_to_string(
             list_filter(
               list_transform(
                 range(1, len(b.arr) + 1),
                 i -> CASE WHEN list_contains(c.cov, i) THEN NULL
                           ELSE b.arr[i] END
               ),
               x -> x IS NOT NULL
             ), ' '), '') AS clean_text
    FROM base b JOIN covered c USING (doc_id)
    ORDER BY doc_id
"""
)

_Q158_ORACLE = (
    _SPAN_STRIP_CTES
    + """,
    totals AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(arr)) AS BIGINT) AS tokens_total
      FROM base GROUP BY source
    ),
    touched AS (
      SELECT b.source, count(*) AS docs_touched,
             CAST(sum(len(c.cov)) AS BIGINT) AS tokens_removed
      FROM base b JOIN covered c USING (doc_id)
      GROUP BY b.source
    )
    SELECT t.source, t.n_docs,
           coalesce(docs_touched, 0) AS docs_touched,
           tokens_total,
           coalesce(tokens_removed, 0) AS tokens_removed,
           round(1e-9 + coalesce(tokens_removed, 0)
                 / CAST(tokens_total AS DOUBLE), 4) AS removed_share
    FROM totals t
    LEFT JOIN touched USING (source)
    ORDER BY source
"""
)


# --- q159: INCREMENTAL span strip — q157's ACTION at ingest time,
# completing the tier's symmetry (q131↔q132 diagnostic, q134↔q135
# gate, q157↔q159 strip): an incoming doc keeps only the text the
# indexed corpus does not already own. Every position covered by a
# 20-gram present in the persisted distinct-gram index is stripped
# and the cleaned text materialized — the "dedup against the lake
# before landing" step a real ingest pipeline runs. Per-ingest work
# is the batch's own positional gram explode + ONE semi-join against
# the index (q132's measured shape: 0.090 per-row ratio at 100x),
# then the q155/q157 covered-position rewrite. Never old×old.
def _strip_against_index(batch_df: DataFrame, index: DataFrame) -> DataFrame:
    """(doc_id, source, tokens_before, tokens_removed, clean_text) for
    every batch doc that loses at least one position to an
    index-owned 20-gram. ``index``: a distinct gram-key frame (g)."""
    pg = _span_grams_pos(batch_df)
    flagged = pg.join(index.select("g"), "g", "semi").select(
        "doc_id", "pos"
    )
    return _rewrite_without_spans(batch_df, flagged)


def span_strip_batch(
    spark: SparkSession, index_path: str, batch_df: DataFrame
) -> DataFrame:
    """One micro-batch through the ingest strip (q159's streaming
    twin; shares write_span_index's persisted distinct-gram table with
    the q132/q135 twins). Per-doc outcomes are IDENTICAL to q159's for
    the same docs — the index is state, so batch boundaries can't
    change any answer (test_twin_sink_equals_batch[incremental_span_strip])."""
    return _strip_against_index(batch_df, spark.read.parquet(index_path))


def q159_incremental_span_strip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incoming docs (the deterministic doc_id % INGEST_MOD == 0 split
    q118/q132/q135 share, so the oracle replays the identical
    scenario) stripped of every span the indexed corpus already owns."""
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % INGEST_MOD == 0)
    index = (
        _span_grams(docs.filter(F.col("doc_id") % INGEST_MOD != 0))
        .select(_gram_key("g").alias("g"))
        .distinct()
    )
    return _strip_against_index(incoming, index)


_Q159_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    pgrams AS (
      SELECT doc_id, source,
             unnest(range(1, len(arr) - {SPAN_N - 2})) AS pos,
             md5(unnest({word_ngrams_sql('arr', SPAN_N)})) AS g
      FROM base WHERE len(arr) >= {SPAN_N}
    ),
    idx AS (
      SELECT DISTINCT g FROM pgrams WHERE doc_id % {INGEST_MOD} != 0
    ),
    covered AS (
      SELECT doc_id,
             list_sort(list_distinct(flatten(list(
               range(pos, pos + {SPAN_N})
             )))) AS cov
      FROM (
        SELECT p.doc_id, p.pos
        FROM pgrams p JOIN idx i ON i.g = p.g
        WHERE p.doc_id % {INGEST_MOD} = 0
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.source,
           CAST(len(b.arr) AS BIGINT) AS tokens_before,
           CAST(len(c.cov) AS BIGINT) AS tokens_removed,
           coalesce(array_to_string(
             list_filter(
               list_transform(
                 range(1, len(b.arr) + 1),
                 i -> CASE WHEN list_contains(c.cov, i) THEN NULL
                           ELSE b.arr[i] END
               ),
               x -> x IS NOT NULL
             ), ' '), '') AS clean_text
    FROM base b JOIN covered c USING (doc_id)
    ORDER BY doc_id
"""


# --- q162: WITHIN-doc self-repetition strip — the intra-document
# member of the strip family (Lee et al. dedupe inside documents too:
# chat transcripts, scraped pages and templated dumps repeat their own
# content). A position is stripped when its SPAN_N-gram occurred
# EARLIER in the SAME document (first in-doc occurrence wins); q106
# detects this repetition, this removes it. Cross-doc duplication is
# q157's job — the two compose. Scale shape: min(pos) per (doc, gram)
# is one grouped agg over the positional gram table; the probe join is
# keyed on (doc_id, g) — co-partitioned with the gram explode, no
# corpus-wide key — and the rewrite is the shared covered-position
# pass. No window.
#
# REP_N = 4, not SPAN_N: like DECON_N (textops), the gram width is
# calibrated to the corpus — the synthetic ~100-token docs never
# repeat a 20-gram internally (measured 0 docs at sf0.01, so the
# driver row would be vacuous), while 4-grams catch real repeats; the
# width is the only knob and a production corpus would run 20+.
REP_N = 4


def self_repetition_strip(docs: DataFrame, n: int = REP_N) -> DataFrame:
    """Per-TOUCHED-doc materialization: (doc_id, source, tokens_before,
    tokens_removed, clean_text) for every doc repeating one of its own
    ``n``-grams.

    Shape: ONE (doc_id, g) aggregation collecting each gram's in-doc
    positions, then non-first positions explode straight out of the
    collected array — no join-back of the gram table against itself.
    Interleaved A/B vs the min(pos)+join shape, identical checksums:
    sf0.1 5.02→3.32 s (−34%), 100× 33.0→20.2 s (−39%); per-doc
    position lists are bounded by doc length, so the collect_set
    cannot skew."""
    pg = _span_grams_pos(docs, n)
    flagged = (
        pg.groupBy("doc_id", "g")
        .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
        .filter(F.size("ps") > 1)
        .select(
            "doc_id",
            F.explode(F.slice("ps", 2, F.size("ps") - 1)).alias("pos"),
        )
    )
    return _rewrite_without_spans(docs, flagged, n=n)


def q162_self_repetition_strip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return self_repetition_strip(load_table(spark, sf_dir, "documents"))


_Q162_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             {tokens_sql()} AS arr
      FROM documents
    ),
    pgrams AS (
      SELECT doc_id, source,
             unnest(range(1, len(arr) - {REP_N - 2})) AS pos,
             md5(unnest({word_ngrams_sql('arr', REP_N)})) AS g
      FROM base WHERE len(arr) >= {REP_N}
    ),
    firsts AS (
      SELECT doc_id, g, min(pos) AS first_pos
      FROM pgrams GROUP BY doc_id, g
    ),
    covered AS (
      SELECT doc_id,
             list_sort(list_distinct(flatten(list(
               range(pos, pos + {REP_N})
             )))) AS cov
      FROM (
        SELECT p.doc_id, p.pos
        FROM pgrams p JOIN firsts f
          ON f.doc_id = p.doc_id AND f.g = p.g
        WHERE p.pos > f.first_pos
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.source,
           CAST(len(b.arr) AS BIGINT) AS tokens_before,
           CAST(len(c.cov) AS BIGINT) AS tokens_removed,
           coalesce(array_to_string(
             list_filter(
               list_transform(
                 range(1, len(b.arr) + 1),
                 i -> CASE WHEN list_contains(c.cov, i) THEN NULL
                           ELSE b.arr[i] END
               ),
               x -> x IS NOT NULL
             ), ' '), '') AS clean_text
    FROM base b JOIN covered c USING (doc_id)
    ORDER BY doc_id
"""


QUERIES = {
    "q45_exact_dedup": q45_exact_dedup,
    "q46_minhash_near_dups": q46_minhash_near_dups,
    "q47_pairwise_jaccard_sample": q47_pairwise_jaccard_sample,
    "q165_minhash_calibration": q165_minhash_calibration,
    "q170_detector_agreement": q170_detector_agreement,
    "q175_dedup_threshold_sweep": q175_dedup_threshold_sweep,
    "q48_simhash_buckets": q48_simhash_buckets,
    "q104_ngram_jaccard_join": q104_ngram_jaccard_join,
    "q184_containment_pairs": q184_containment_pairs,
    "q118_incremental_dedup": q118_incremental_dedup,
    "q125_fuzzy_prefix_dedup": q125_fuzzy_prefix_dedup,
    "q127_leakage_matrix": q127_leakage_matrix,
    "q131_duplicated_spans": q131_duplicated_spans,
    "q180_memorization_risk": q180_memorization_risk,
    "q132_incremental_spans": q132_incremental_spans,
    "q134_longest_dup_span": q134_longest_dup_span,
    "q135_incremental_span_gate": q135_incremental_span_gate,
    "q152_simhash_hamming_join": q152_simhash_hamming_join,
    "q157_dedup_span_strip": q157_dedup_span_strip,
    "q158_dedup_span_strip_stats": q158_dedup_span_strip_stats,
    "q159_incremental_span_strip": q159_incremental_span_strip,
    "q162_self_repetition_strip": q162_self_repetition_strip,
}

# 3-word shingles — the DuckDB twin of distinct_shingles().
_SHINGLES_SQL = f"""
  SELECT doc_id, unnest(list_distinct(
           {word_ngrams_sql('arr', 3)}
         )) AS token
  FROM (SELECT doc_id, {tokens_sql()} AS arr FROM {{src}})
"""

_JACCARD_SQL = """
  sizes AS (SELECT doc_id, count(*) AS n_tok FROM tokens GROUP BY doc_id),
  inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS n_inter
    FROM pairs p
    JOIN tokens ta ON ta.doc_id = p.doc_a
    JOIN tokens tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
    GROUP BY p.doc_a, p.doc_b
  ),
  jac AS (
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
  )
"""

# named pieces for q127's oracle (an f-string can't call .format inline
# on the shared fragments without drowning in brace escapes)
_SHINGLES_SQL_DOCS = _SHINGLES_SQL.format(src="documents")
_JACCARD_SQL_BODY = _JACCARD_SQL

ORACLES = {
    "q170_detector_agreement": _q170_oracle(),
    "q175_dedup_threshold_sweep": _q175_oracle(),
    "q165_minhash_calibration": f"""
        WITH tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src="documents")}),
        mins AS MATERIALIZED (
          SELECT doc_id,
                 {", ".join(f"min(md5(concat(token, ':', {h}))) AS m{h}" for h in range(N_HASHES))}
          FROM tokens GROUP BY doc_id
        ),
        banded AS (
          {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash FROM mins"
            for b in range(N_HASHES // BAND_ROWS)
          )}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
        ),
        {_JACCARD_SQL},
        matched AS (
          SELECT j.jaccard,
                 ({" + ".join(f"(CASE WHEN a.m{h} = b.m{h} THEN 1 ELSE 0 END)" for h in range(N_HASHES))}) AS n_match
          FROM jac j
          JOIN mins a ON a.doc_id = j.doc_a
          JOIN mins b ON b.doc_id = j.doc_b
        )
        SELECT CAST(n_match AS INTEGER) AS n_match,
               round(n_match / {float(N_HASHES)}, 4) AS est_jaccard,
               count(*) AS n_pairs,
               round(avg(jaccard), 4) AS avg_jaccard,
               round(avg(abs(n_match / {float(N_HASHES)} - jaccard)), 4) AS mae
        FROM matched GROUP BY n_match ORDER BY n_match
    """,
    "q45_exact_dedup": f"""
        WITH grp AS (
          SELECT {normalized_md5_sql()} AS h,
                 count(*) AS n_docs
          FROM documents GROUP BY h
        )
        SELECT count(*) AS n_unique,
               CAST(sum(n_docs - 1) AS BIGINT) AS n_removed
        FROM grp
    """,
    "q46_minhash_near_dups": f"""
        WITH tokens AS ({_SHINGLES_SQL.format(src="documents")}),
        mins AS (
          SELECT doc_id,
                 {", ".join(f"min(md5(concat(token, ':', {h}))) AS m{h}" for h in range(N_HASHES))}
          FROM tokens GROUP BY doc_id
        ),
        banded AS (
          {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash FROM mins"
            for b in range(N_HASHES // BAND_ROWS)
          )}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
        ),
        {_JACCARD_SQL}
        SELECT doc_a, doc_b, jaccard FROM jac
        WHERE jaccard >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "q47_pairwise_jaccard_sample": f"""
        WITH tokens AS (
          SELECT doc_id, unnest(list_distinct({tokens_sql()})) AS token
          FROM documents WHERE doc_id < 40
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM (SELECT DISTINCT doc_id FROM tokens) a,
               (SELECT DISTINCT doc_id FROM tokens) b
          WHERE a.doc_id < b.doc_id
        ),
        {_JACCARD_SQL}
        SELECT count(*) AS n_pairs,
               round(1e-9 + avg(jaccard), 4) AS avg_jaccard,
               round(max(jaccard), 4) AS max_jaccard,
               CAST(sum(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups
        FROM jac
    """,
    "q104_ngram_jaccard_join": f"""
        WITH tokens AS ({_SHINGLES_SQL.format(src="documents")}),
        dfreq AS (SELECT token, count(*) AS df FROM tokens GROUP BY token),
        kept AS (
          SELECT t.doc_id, t.token, d.df
          FROM tokens t JOIN dfreq d ON d.token = t.token
          WHERE d.df BETWEEN 2 AND {DF_CAP}
        ),
        prefix AS (
          SELECT doc_id, token FROM (
            SELECT doc_id, token,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY df, token) AS rk,
                   count(*) OVER (PARTITION BY doc_id) AS nk
            FROM kept
          ) WHERE rk <= floor(nk / 2) + 1
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM prefix a JOIN prefix b
            ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING count(*) >= {MIN_SHARED}
        ),
        {_JACCARD_SQL}
        SELECT doc_a, doc_b, jaccard FROM jac
        WHERE jaccard >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "q125_fuzzy_prefix_dedup": _q125_oracle(),
    "q184_containment_pairs": _q184_oracle(),
    "q131_duplicated_spans": _Q131_ORACLE,
    "q180_memorization_risk": _Q180_ORACLE,
    "q132_incremental_spans": _Q132_ORACLE,
    "q134_longest_dup_span": _Q134_ORACLE,
    "q135_incremental_span_gate": _Q135_ORACLE,
    "q127_leakage_matrix": f"""
        WITH tokens AS MATERIALIZED ({_SHINGLES_SQL_DOCS}),
        mins AS (
          SELECT doc_id,
                 {", ".join(f"min(md5(concat(token, ':', {h}))) AS m{h}" for h in range(N_HASHES))}
          FROM tokens GROUP BY doc_id
        ),
        banded AS (
          {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash FROM mins"
            for b in range(N_HASHES // BAND_ROWS)
          )}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
        ),
        {_JACCARD_SQL_BODY},
        hits AS (
          SELECT j.doc_a, j.doc_b, j.jaccard,
                 da.source AS sa, db.source AS sb
          FROM jac j
          JOIN documents da ON da.doc_id = j.doc_a
          JOIN documents db ON db.doc_id = j.doc_b
          WHERE j.jaccard >= {JACCARD_THRESHOLD}
        )
        SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
               count(*) AS n_dup_pairs,
               round(1e-9 + avg(jaccard), 4) AS avg_jaccard,
               round(max(jaccard), 4) AS max_jaccard
        FROM hits
        GROUP BY 1, 2
        ORDER BY source_a, source_b
    """,
    "q118_incremental_dedup": f"""
        WITH tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src="documents")}),
        mins AS MATERIALIZED (
          SELECT doc_id,
                 {", ".join(f"min(md5(concat(token, ':', {h}))) AS m{h}" for h in range(N_HASHES))}
          FROM tokens GROUP BY doc_id
        ),
        banded AS MATERIALIZED (
          {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash FROM mins"
            for b in range(N_HASHES // BAND_ROWS)
          )}
        ),
        pairs AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.minhash = b.minhash
          WHERE a.doc_id % {INGEST_MOD} = 0 AND b.doc_id % {INGEST_MOD} != 0
        ),
        {_JACCARD_SQL}
        SELECT doc_a AS new_doc_id, doc_b AS dup_of, jaccard FROM jac
        WHERE jaccard >= {JACCARD_THRESHOLD}
        ORDER BY new_doc_id, dup_of
    """,
    "q152_simhash_hamming_join": _q152_oracle(),
    "q157_dedup_span_strip": _Q157_ORACLE,
    "q158_dedup_span_strip_stats": _Q158_ORACLE,
    "q159_incremental_span_strip": _Q159_ORACLE,
    "q162_self_repetition_strip": _Q162_ORACLE,
    "q48_simhash_buckets": f"""
        WITH tokens AS (
          SELECT doc_id, unnest(list_distinct({tokens_sql()})) AS token
          FROM documents
        ),
        h16 AS (
          SELECT doc_id,
                 ((CASE WHEN ascii(substr(md5(token),1,1)) >= 97 THEN ascii(substr(md5(token),1,1))-87 ELSE ascii(substr(md5(token),1,1))-48 END) * 4096
                + (CASE WHEN ascii(substr(md5(token),2,1)) >= 97 THEN ascii(substr(md5(token),2,1))-87 ELSE ascii(substr(md5(token),2,1))-48 END) * 256
                + (CASE WHEN ascii(substr(md5(token),3,1)) >= 97 THEN ascii(substr(md5(token),3,1))-87 ELSE ascii(substr(md5(token),3,1))-48 END) * 16
                + (CASE WHEN ascii(substr(md5(token),4,1)) >= 97 THEN ascii(substr(md5(token),4,1))-87 ELSE ascii(substr(md5(token),4,1))-48 END)) AS h16
          FROM tokens
        ),
        votes AS (
          SELECT doc_id,
                 {{vote_cols}}
          FROM h16 GROUP BY doc_id
        ),
        sigs AS (
          SELECT doc_id, CAST({{sig_expr}} AS BIGINT) AS simhash FROM votes
        ),
        buckets AS (
          SELECT simhash, count(*) AS n_docs FROM sigs GROUP BY simhash
        )
        SELECT count(*) AS n_buckets,
               max(n_docs) AS largest_bucket,
               CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_collision_buckets
        FROM buckets
    """.format(
        vote_cols=",\n                 ".join(
            f"avg(CAST(floor(h16 / {2 ** j}) AS INTEGER) % 2) AS v{j}"
            for j in range(16)
        ),
        sig_expr=" + ".join(
            f"(CASE WHEN v{j} > 0.5 THEN {2 ** j} ELSE 0 END)" for j in range(16)
        ),
    ),
}
