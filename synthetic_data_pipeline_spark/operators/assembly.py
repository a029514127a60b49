"""Dataset-assembly operators: the last mile of a training-data
pipeline — turning a cleaned corpus into the artifacts a trainer
consumes (token-budget shards, packed sequences, mixture-balanced and
stratified subsets).

North-star extensions (BASELINE.json "large-scale training-data
pipeline"); the reference has no assembly stage at all — its output is
one pandas frame per run (modules/content_generator.py writes the
corpus, modules/postprocessor.py writes mapping_meta.csv via pandas
to_csv) — so these are engine capabilities, not parity items.

Everything is pure column expressions + the two-phase global-cumsum
helper (functions/ranking.py): no Python UDFs, no single-partition
windows, no driver-side loops. Every query here has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.grams import normalized, normalized_md5_sql, tokens_sql, word_ngrams_sql
from ..functions.ranking import global_cumsum
from ..functions.rounding import eround
from ..functions.xsql import expand_u16, hash_u16
from ..sources.tables import load_table

# Token budget per training shard (q112/q115). 2048 keeps per-shard
# state tiny; at 100 TB the cap bounds the collect_list payload of
# q115 by construction, so shard assembly never builds a hot key.
SHARD_TOKENS = 2048

# Stratified-sample fan-in bounds (q114).
STRATA_K = 20
STRATA_SALT = 32


def _doc_tokens(spark: SparkSession, sf_dir: str, with_text: bool = False) -> DataFrame:
    """(doc_id, n_tokens[, text]) — literal-space token counts, the same
    convention as q94's chunker (split(text, ' '))."""
    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", F.size(F.split("text", " ")).alias("n_tokens")]
    if with_text:
        cols.append(F.col("text"))
    return docs.select(*cols)


def shard_assignment(spark: SparkSession, sf_dir: str, with_text: bool = False) -> DataFrame:
    """Assign every document to a token-budget shard: documents in
    doc_id order are laid end-to-end and a document belongs to the
    shard where it STARTS (shard_id = floor(start_offset / cap)).

    Deterministic under any partitioning — the offset is a pure
    function of the global doc_id order. Scale shape: the running
    total comes from :func:`global_cumsum` (range-bucketed two-phase —
    a partitioned window plus a ≤64-row driver aggregate), so there is
    no single-partition sort point; the cumsum shuffle carries only
    (doc_id, n_tokens) unless the caller asks for text.
    """
    toks = _doc_tokens(spark, sf_dir, with_text=with_text)
    c = global_cumsum(toks, "n_tokens", "doc_id", "doc_id", name="_cum")
    start = F.col("_cum") - F.col("n_tokens")
    return c.withColumn(
        "shard_id", F.floor(start / F.lit(float(SHARD_TOKENS))).cast("long")
    ).drop("_cum")


# --- q112: sequence-packing plan — per-shard manifest of the
# token-budget layout (the shard table a trainer's data loader reads).
def q112_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = shard_assignment(spark, sf_dir)
    return (
        a.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


# --- q183: INCREMENTAL shard append (round 11) — q112's manifest at
# ingest time, the q118/q132/q159 pattern applied to assembly: the
# already-materialized lake shards are IMMUTABLE artifacts (their
# pack_md5 is published — write_training_shards), so an arriving batch
# must never re-pack them. New documents start at the next EMPTY shard
# index base = ceil(old_total_tokens / cap) — the partially-filled
# last old shard is left as-is (re-opening it would rewrite a
# checksummed artifact) — and pack among themselves with the same
# floor(start/cap) rule. The old/new split is q118's deterministic
# doc_id % INGEST_MOD convention so the oracle replays the exact same
# lineage. Scale shape: two range-bucketed global cumsums (old side in
# a lake would be a stored offset, here recomputed so the gate checks
# the whole derivation), one 1-row broadcast scalar, |shards|-key agg.
# No shard can mix old and new docs by construction — the query emits
# is_new per shard and the planted test pins old rows == q112-on-old.
def q183_incremental_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranking import global_cumsum
    from .dedup import INGEST_MOD

    toks = _doc_tokens(spark, sf_dir)
    old = toks.filter(F.col("doc_id") % INGEST_MOD != 0)
    new = toks.filter(F.col("doc_id") % INGEST_MOD == 0)
    cap = float(SHARD_TOKENS)
    co = global_cumsum(old, "n_tokens", "doc_id", "doc_id", name="_cum")
    old_assign = co.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(cap)).alias(
            "shard_id"
        ),
        F.lit(0).alias("is_new"),
    )
    # coalesce: an empty old slice means new docs pack from shard 0
    base = co.agg(
        F.floor(
            (F.coalesce(F.sum("n_tokens"), F.lit(0))
             + F.lit(SHARD_TOKENS - 1))
            / F.lit(cap)
        ).alias("_base")
    )
    cn = global_cumsum(new, "n_tokens", "doc_id", "doc_id", name="_cum")
    new_assign = cn.crossJoin(F.broadcast(base)).select(
        "doc_id",
        "n_tokens",
        (
            F.col("_base")
            + F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(cap))
        ).alias("shard_id"),
        F.lit(1).alias("is_new"),
    )
    return (
        old_assign.unionByName(new_assign)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.max("is_new").alias("is_new"),
        )
        .orderBy("shard_id")
    )


def _q183_oracle() -> str:
    from .dedup import INGEST_MOD

    return f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    co AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS start
      FROM t WHERE doc_id % {INGEST_MOD} != 0
    ),
    old_assign AS (
      SELECT doc_id, n_tokens,
             CAST(floor(start / {SHARD_TOKENS}.0) AS BIGINT) AS shard_id,
             0 AS is_new
      FROM co
    ),
    base AS (
      SELECT CAST(floor(
        (COALESCE(sum(n_tokens), 0) + {SHARD_TOKENS - 1})
        / {SHARD_TOKENS}.0
      ) AS BIGINT) AS b
      FROM co
    ),
    cn AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS start
      FROM t WHERE doc_id % {INGEST_MOD} = 0
    ),
    new_assign AS (
      SELECT doc_id, n_tokens,
             base.b + CAST(floor(start / {SHARD_TOKENS}.0) AS BIGINT)
               AS shard_id,
             1 AS is_new
      FROM cn CROSS JOIN base
    ),
    u AS (
      SELECT * FROM old_assign UNION ALL SELECT * FROM new_assign
    )
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           CAST(max(is_new) AS INTEGER) AS is_new
    FROM u GROUP BY shard_id ORDER BY shard_id
"""


_SHARD_CTE = f"""
    t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, text
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, text,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS start
      FROM t
    ),
    a AS (
      SELECT doc_id, n_tokens, text,
             CAST(floor(start / {SHARD_TOKENS}.0) AS BIGINT) AS shard_id
      FROM c
    )
"""

_Q112_ORACLE = f"""
    WITH {_SHARD_CTE}
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM a GROUP BY shard_id ORDER BY shard_id
"""


# --- q115: the packing ACTION — materialize each shard's training
# sequence (documents joined with an <eos> separator, in layout order)
# and fingerprint it. The md5 keeps the gate exact while the result
# stays small; write_training_shards emits the packed text itself.
def packed_shard_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard_id, n_docs, shard_tokens, seq, pack_md5) — the ONE
    definition of the packing convention (doc_id sort key, ' <eos> '
    separator, md5-over-binary checksum) that q115's manifest and
    write_training_shards' export both consume, so the two can never
    disagree on what a shard's bytes are.

    Per-shard collect_list is safe BY CONSTRUCTION: a shard holds
    ~SHARD_TOKENS tokens (plus at most one straddling document), so the
    grouped state is bounded no matter the corpus size — this is the
    one place the engine materializes text per key, and the cap is what
    makes that scale."""
    a = shard_assignment(spark, sf_dir, with_text=True)
    packed = F.array_sort(F.collect_list(F.struct("doc_id", "text")))
    seq = F.concat_ws(" <eos> ", F.transform(packed, lambda s: s["text"]))
    return a.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        seq.alias("seq"),
    ).withColumn("pack_md5", F.md5(F.col("seq").cast("binary")))


def q115_packed_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        packed_shard_frame(spark, sf_dir)
        .select("shard_id", "n_docs", "shard_tokens", "pack_md5")
        .orderBy("shard_id")
    )


_Q115_ORACLE = f"""
    WITH {_SHARD_CTE}
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           md5(string_agg(text, ' <eos> ' ORDER BY doc_id)) AS pack_md5
    FROM a GROUP BY shard_id ORDER BY shard_id
"""


# --- q150: the pack-vs-pad decision audit. Before choosing a packing
# strategy a training job needs the cost of the naive alternative at a
# fixed context length L: how much text truncation throws away and how
# much compute one-doc-per-sequence padding wastes, per source — and
# the speedup dense packing (q112/q115/q119) buys back. Token counts
# use _doc_tokens' literal-space convention.
SEQ_LEN = 512


def q150_padding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source at context length SEQ_LEN: docs truncated, share of
    tokens lost to truncation, share of the padded batch wasted on pad
    tokens, and the sequence-count speedup from packing the kept
    tokens densely instead (ceil division — integer-exact in both
    engines). ONE narrow map + one |sources|-key aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    L = F.lit(SEQ_LEN)
    per_doc = docs.select(
        "source",
        n_tok.alias("n_tokens"),
        F.least(n_tok, L).alias("kept"),
        F.greatest(n_tok - L, F.lit(0)).alias("lost"),
    )
    kept = F.sum("kept")
    packed_seqs = F.floor((kept + F.lit(SEQ_LEN - 1)) / L)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("n_tokens") > L, 1).otherwise(0)).alias(
                "n_truncated"
            ),
            eround(
                F.lit(1e-9)
                + F.sum("lost") / F.sum("n_tokens").cast("double"),
                4,
            ).alias("trunc_token_share"),
            eround(
                F.lit(1e-9)
                + (F.count("*") * L - kept).cast("double")
                / (F.count("*") * L),
                4,
            ).alias("pad_waste_share"),
            packed_seqs.cast("long").alias("packed_seqs"),
            eround(
                F.lit(1e-9) + F.count("*") / packed_seqs.cast("double"), 4
            ).alias("packing_speedup"),
        )
        .orderBy("source")
    )


_Q150_ORACLE = f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             least(CAST(len(string_split(text, ' ')) AS BIGINT),
                   {SEQ_LEN}) AS kept,
             greatest(CAST(len(string_split(text, ' ')) AS BIGINT)
                      - {SEQ_LEN}, 0) AS lost
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN n_tokens > {SEQ_LEN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           round(1e-9 + sum(lost) / CAST(sum(n_tokens) AS DOUBLE), 4)
             AS trunc_token_share,
           round(1e-9 + (count(*) * {SEQ_LEN} - sum(kept))
                 / CAST(count(*) * {SEQ_LEN} AS DOUBLE), 4)
             AS pad_waste_share,
           CAST((sum(kept) + {SEQ_LEN - 1}) // {SEQ_LEN} AS BIGINT)
             AS packed_seqs,
           round(1e-9 + count(*)
                 / CAST((sum(kept) + {SEQ_LEN - 1}) // {SEQ_LEN} AS DOUBLE),
                 4) AS packing_speedup
    FROM per_doc GROUP BY source ORDER BY source
"""


# --- q113: domain-mixture balancing — deterministically downsample
# every source to the smallest source's size (uniform target mixture).
# The accept test is INTEGER-exact in both engines:
#     u16(doc_id) * n_source  <  n_min * 65536
# i.e. accept with probability n_min/n_source, decided per-document by
# counter-mode hash — reproducible under any partitioning, unlike
# rand()-based sampling. Scale shape: the per-source count table is
# |sources| rows (broadcast both ways); the accept filter is a narrow
# map over the corpus.
def q113_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    mn = counts.agg(F.min("n_before").alias("_mn"))
    rates = counts.crossJoin(F.broadcast(mn))
    u16 = F.expr(expand_u16(hash_u16("CAST(doc_id AS STRING)", "mix"), "spark"))
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(u16 * F.col("n_before") < F.col("_mn") * F.lit(65536))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_before",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


def _q113_oracle() -> str:
    u16 = expand_u16(hash_u16("CAST(d.doc_id AS STRING)", "mix"), "duckdb")
    return f"""
        WITH c AS (
          SELECT source, count(*) AS n_before FROM documents GROUP BY source
        ),
        m AS (SELECT min(n_before) AS mn FROM c),
        k AS (
          SELECT d.source, count(*) AS n_kept
          FROM documents d JOIN c USING (source) CROSS JOIN m
          WHERE {u16} * c.n_before < m.mn * 65536
          GROUP BY d.source
        )
        SELECT c.source, c.n_before, COALESCE(k.n_kept, 0) AS n_kept
        FROM c LEFT JOIN k USING (source)
        ORDER BY source
    """


# --- q120: temperature-τ=0.5 mixture — the standard multilingual
# rebalancing law (sample source s with probability ∝ n_s^τ): soften
# the corpus's source skew instead of q113's hard flattening. The
# acceptance rate sqrt(n_min / n_s) is IRRATIONAL, but the per-doc
# accept test stays integer-exact in both engines by squaring:
#     u16/65536 < sqrt(n_min/n_s)  ⟺  u16² · n_s < 65536² · n_min
# (all BIGINT: u16² ≤ 2^32, corpus counts keep the product far under
# 2^63 for any real table). Same scale shape as q113: a |sources|-row
# rate table broadcast into a narrow accept filter.
def q120_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    mn = counts.agg(F.min("n_before").alias("_mn"))
    rates = counts.crossJoin(F.broadcast(mn))
    u16 = F.expr(expand_u16(hash_u16("CAST(doc_id AS STRING)", "temp"), "spark"))
    u = u16.cast("long")
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(u * u * F.col("n_before") < F.lit(65536 * 65536) * F.col("_mn"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_before",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


def _q120_oracle() -> str:
    u16 = expand_u16(hash_u16("CAST(d.doc_id AS STRING)", "temp"), "duckdb")
    return f"""
        WITH c AS (
          SELECT source, count(*) AS n_before FROM documents GROUP BY source
        ),
        m AS (SELECT min(n_before) AS mn FROM c),
        k AS (
          SELECT d.source, count(*) AS n_kept
          FROM documents d JOIN c USING (source) CROSS JOIN m
          WHERE CAST({u16} AS BIGINT) * CAST({u16} AS BIGINT) * c.n_before
                < {65536 * 65536} * m.mn
          GROUP BY d.source
        )
        SELECT c.source, c.n_before, COALESCE(k.n_kept, 0) AS n_kept
        FROM c LEFT JOIN k USING (source)
        ORDER BY source
    """


# --- q140: token-budget waterfill — allocate a global token budget
# B = ⌊WF_BUDGET_FRAC · total⌋ across sources so that no source
# exceeds its natural size and the remainder is split evenly (the
# classic waterfilling level: sources smaller than the water level L
# are taken whole / "saturated", the rest contribute exactly ⌊L⌋).
# This is the budgeted companion to q113 (flatten) and q120
# (temperature): those fix RATIOS, this fixes the TOTAL.
#
# Scale shape: one per-source token aggregate over the corpus (the
# only corpus-sized stage), then the level computation runs on the
# |sources|-row table — a triangle self-join (b strictly before a in
# (n, source) order) instead of a window, so the module's
# no-single-partition-window rule holds even here; |sources|² is a
# domain-bounded constant, not data-scaled.
WF_BUDGET_FRAC = 0.5


def token_budget_waterfill(
    c: DataFrame, budget_frac: float = WF_BUDGET_FRAC
) -> DataFrame:
    """Waterfill a (source, n) per-source token-count frame; see
    q140_token_budget_waterfill."""
    tot = c.agg(
        F.sum("n").alias("_tot"), F.count("*").alias("_k")
    )
    b = c.select(F.col("source").alias("b_source"), F.col("n").alias("b_n"))
    pre = (
        c.join(
            b,
            (F.col("b_n") < F.col("n"))
            | ((F.col("b_n") == F.col("n")) & (F.col("b_source") < F.col("source"))),
            "left",
        )
        .groupBy("source", "n")
        .agg(
            F.coalesce(F.sum("b_n"), F.lit(0).cast("long")).alias("prefix"),
            F.count("b_source").alias("rank0"),
        )
    )
    x = (
        pre.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget",
            F.floor(F.col("_tot") * F.lit(budget_frac)).cast("long"),
        )
        # saturated ⟺ taking this source whole still fits even if every
        # not-smaller source were capped at this source's size
        .withColumn(
            "sat",
            F.col("prefix") + (F.col("_k") - F.col("rank0")) * F.col("n")
            <= F.col("budget"),
        )
    )
    g = x.agg(
        F.coalesce(
            F.sum(F.when(F.col("sat"), F.col("n"))), F.lit(0).cast("long")
        ).alias("sat_sum"),
        F.sum(F.when(F.col("sat"), 1).otherwise(0)).alias("sat_k"),
    )
    y = x.crossJoin(F.broadcast(g))
    level_alloc = F.floor(
        (F.col("budget") - F.col("sat_sum"))
        / F.greatest(F.col("_k") - F.col("sat_k"), F.lit(1))
        + F.lit(1e-9)
    ).cast("long")
    alloc = F.when(F.col("sat"), F.col("n")).otherwise(level_alloc)
    return y.select(
        "source",
        F.col("n").alias("n_tokens"),
        alloc.alias("allocated_tokens"),
        F.col("sat").cast("long").alias("saturated"),
        eround(alloc / F.col("n").cast("double"), 4).alias("fill_pct"),
    ).orderBy("source")


def q140_token_budget_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("nt")
    )
    return token_budget_waterfill(
        docs.groupBy("source").agg(F.sum("nt").alias("n"))
    )


_Q140_ORACLE = f"""
    WITH c AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS k FROM c),
    p AS (
      SELECT a.source, a.n,
             CAST(COALESCE(sum(b.n), 0) AS BIGINT) AS prefix,
             CAST(count(b.source) AS BIGINT) AS rank0
      FROM c a LEFT JOIN c b
        ON b.n < a.n OR (b.n = a.n AND b.source < a.source)
      GROUP BY a.source, a.n
    ),
    x AS (
      SELECT p.*, CAST(floor(t.tot * {WF_BUDGET_FRAC}) AS BIGINT) AS budget,
             t.k,
             (p.prefix + (t.k - p.rank0) * p.n
              <= CAST(floor(t.tot * {WF_BUDGET_FRAC}) AS BIGINT)) AS sat
      FROM p CROSS JOIN t
    ),
    g AS (
      SELECT CAST(COALESCE(sum(CASE WHEN sat THEN n END), 0) AS BIGINT)
               AS sat_sum,
             CAST(COALESCE(sum(CASE WHEN sat THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS sat_k
      FROM x
    ),
    a AS (
      SELECT x.source, x.n, x.sat,
             CASE WHEN x.sat THEN x.n
                  ELSE CAST(floor(
                         (x.budget - g.sat_sum)
                         / greatest(x.k - g.sat_k, 1) + 1e-9) AS BIGINT)
             END AS alloc
      FROM x CROSS JOIN g
    )
    SELECT source, n AS n_tokens, alloc AS allocated_tokens,
           CAST(sat AS BIGINT) AS saturated,
           round(alloc / CAST(n AS DOUBLE), 4) AS fill_pct
    FROM a ORDER BY source
"""


# --- q114: stratified sample — the K hash-smallest documents of every
# (source, lang) stratum. The naive plan (row_number over a stratum
# window) funnels each stratum through ONE reducer — a scale-killer
# when strata are few and huge (5 sources × 5 langs over 100 TB).
# Instead: exact distributed top-K — salt-partial top-K per
# (stratum, salt) group, then merge the ≤ SALT candidate lists per
# stratum. Both shuffles carry at most K·SALT short rows per stratum,
# so no reducer ever sees a stratum's full population.
def q114_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    u16 = F.expr(expand_u16(hash_u16("CAST(doc_id AS STRING)", "strat"), "spark"))
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", u16.alias("h")
    )
    partial = (
        base.groupBy("source", "lang", F.pmod("doc_id", F.lit(STRATA_SALT)).alias("_salt"))
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("h", "doc_id"))),
                1,
                STRATA_K,
            ).alias("top")
        )
    )
    merged = partial.groupBy("source", "lang").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("top"))), 1, STRATA_K
        ).alias("top")
    )
    return (
        merged.select("source", "lang", F.posexplode("top").alias("pos", "s"))
        .select(
            "source",
            "lang",
            (F.col("pos") + 1).cast("long").alias("rk"),
            F.col("s.doc_id").alias("doc_id"),
        )
        .orderBy("source", "lang", "rk")
    )


def _q114_oracle() -> str:
    u16 = expand_u16(hash_u16("CAST(doc_id AS STRING)", "strat"), "duckdb")
    return f"""
        WITH t AS (
          SELECT source, lang, doc_id, {u16} AS h FROM documents
        ),
        r AS (
          SELECT source, lang, doc_id,
                 row_number() OVER (
                   PARTITION BY source, lang ORDER BY h, doc_id
                 ) AS rk
          FROM t
        )
        SELECT source, lang, CAST(rk AS BIGINT) AS rk, doc_id
        FROM r WHERE rk <= {STRATA_K}
        ORDER BY source, lang, rk
    """


# --- q146: deterministic weighted sampling WITHOUT replacement per
# source (Efraimidis-Spirakis A-ES, key = u^(1/w) selected by max —
# computed in the monotone log domain ln(u)/w). The uniform u comes
# from the same counter-mode md5 both engines share, so the "random"
# draw is reproducible across engines, re-runs and partitionings; keys
# are eround-ed to 6dp before ranking (ties fall to doc_id) so a
# cross-engine libm ulp on ln() can never flip a rank. Selection uses
# q114's salted partial-top-K + merge shape — no per-stratum window
# over corpus-sized groups.
WSAMPLE_K = 8


def weighted_sample(docs: DataFrame, k: int = WSAMPLE_K) -> DataFrame:
    """Top-k A-ES weighted sample per source; weight = n_chars (token-
    budget-proportional inclusion — the mixture-construction policy
    that favors long documents without excluding short ones).

    ``docs``: (doc_id, source, n_chars). Returns (source, rk, doc_id,
    weight)."""
    u16 = F.expr(
        expand_u16(hash_u16("CAST(doc_id AS STRING)", "wsample"), "spark")
    )
    base = docs.filter(F.col("n_chars") > 0).select(
        "source",
        "doc_id",
        F.col("n_chars").alias("weight"),
        u16.alias("h"),
    )
    u = (F.col("h") + F.lit(0.5)) / F.lit(65536.0)
    key = eround(F.log(u) / F.col("weight").cast("double"), 6)
    keyed = base.select(
        "source", "doc_id", "weight", (-key).alias("nk")
    )
    partial = keyed.groupBy(
        "source", F.pmod("doc_id", F.lit(STRATA_SALT)).alias("_salt")
    ).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("nk", "doc_id", "weight"))),
            1,
            k,
        ).alias("top")
    )
    merged = partial.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("top"))), 1, k
        ).alias("top")
    )
    return (
        merged.select("source", F.posexplode("top").alias("pos", "s"))
        .select(
            "source",
            (F.col("pos") + 1).cast("long").alias("rk"),
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.weight").alias("weight"),
        )
        .orderBy("source", "rk")
    )


def q146_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_sample(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
    )


def _q146_oracle() -> str:
    u16 = expand_u16(hash_u16("CAST(doc_id AS STRING)", "wsample"), "duckdb")
    return f"""
        WITH t AS (
          SELECT source, doc_id, n_chars AS weight,
                 ({u16} + 0.5) / 65536.0 AS u
          FROM documents WHERE n_chars > 0
        ),
        kd AS (
          SELECT source, doc_id, weight,
                 round(ln(u) / CAST(weight AS DOUBLE), 6) AS key
          FROM t
        ),
        r AS (
          SELECT source, doc_id, weight,
                 row_number() OVER (
                   PARTITION BY source ORDER BY key DESC, doc_id
                 ) AS rk
          FROM kd
        )
        SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, weight
        FROM r WHERE rk <= {WSAMPLE_K}
        ORDER BY source, rk
    """


# --- q116: length-curriculum phases — split the corpus into 4 ordered
# training phases by document length (the classic short→long
# curriculum). Ordering key is INTEGER (n_tokens, doc_id), so the
# phase assignment is bit-identical across engines — no float-ordering
# knife edge. The ntile comes from functions/ranking.py's two-phase
# global_analytics (closed-form ntile over the bucketed global rank),
# so there is no single-partition window at any corpus size.
CURRICULUM_PHASES = 4


def q116_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranking import global_analytics

    toks = _doc_tokens(spark, sf_dir)
    phased = global_analytics(
        toks,
        "n_tokens",
        "doc_id",
        ntile_k=CURRICULUM_PHASES,
        ntile_name="phase",
    )
    return (
        phased.groupBy(F.col("phase").cast("long").alias("phase"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("phase_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("phase")
    )


_Q116_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    p AS (
      SELECT n_tokens,
             ntile({CURRICULUM_PHASES}) OVER (ORDER BY n_tokens, doc_id) AS phase
      FROM t
    )
    SELECT CAST(phase AS BIGINT) AS phase, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS phase_tokens,
           min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
    FROM p GROUP BY phase ORDER BY phase
"""


# --- q119: EXACT-boundary token shards — the GPT-style packing that
# q112 approximates: the corpus is one token stream (docs end-to-end
# in doc_id order) cut every SHARD_TOKENS tokens, documents SPLITTING
# across cuts. The output is the segment manifest a data loader needs:
# which token range of which document lands in which shard. Every
# shard except the last holds EXACTLY SHARD_TOKENS tokens — an
# invariant q112's whole-doc assignment can't give. Same scale shape
# as q112 (two-phase cumsum; the per-doc shard-span explode emits
# ~n_tokens/SHARD_TOKENS + 1 rows per doc, a narrow op).
def q119_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_tokens(spark, sf_dir)
    c = global_cumsum(toks, "n_tokens", "doc_id", "doc_id", name="_cum")
    cap = F.lit(SHARD_TOKENS)
    start = (F.col("_cum") - F.col("n_tokens")).alias("start")
    spans = c.select(
        "doc_id",
        "n_tokens",
        start,
        F.col("_cum").alias("end"),
    ).select(
        "doc_id",
        "start",
        "end",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / cap),
                F.floor((F.col("end") - 1) / cap),
            )
        ).alias("shard_id"),
    )
    seg_start = F.greatest(F.col("start"), F.col("shard_id") * cap)
    seg_end = F.least(F.col("end"), (F.col("shard_id") + 1) * cap)
    segs = spans.select(
        "doc_id",
        "shard_id",
        (seg_end - seg_start).alias("seg_tokens"),
        ((F.col("start") >= F.col("shard_id") * cap)
         & (F.col("end") <= (F.col("shard_id") + 1) * cap)).alias("whole"),
    )
    return (
        segs.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("seg_tokens").alias("shard_tokens"),
            F.sum(F.when(F.col("whole"), 1).otherwise(0)).alias("n_whole_docs"),
        )
        .orderBy("shard_id")
    )


_Q119_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS "end"
      FROM t
    ),
    spans AS (
      -- DuckDB's windowed sum yields HUGEINT; range() needs BIGINT
      SELECT doc_id, CAST("end" - n_tokens AS BIGINT) AS start,
             CAST("end" AS BIGINT) AS "end",
             unnest(range(CAST(("end" - n_tokens) // {SHARD_TOKENS} AS BIGINT),
                          CAST(("end" - 1) // {SHARD_TOKENS} + 1 AS BIGINT))) AS shard_id
      FROM c
    ),
    segs AS (
      SELECT doc_id, shard_id,
             least("end", (shard_id + 1) * {SHARD_TOKENS})
               - greatest(start, shard_id * {SHARD_TOKENS}) AS seg_tokens,
             (start >= shard_id * {SHARD_TOKENS}
              AND "end" <= (shard_id + 1) * {SHARD_TOKENS}) AS whole
      FROM spans
    )
    SELECT shard_id, count(*) AS n_segments,
           CAST(sum(seg_tokens) AS BIGINT) AS shard_tokens,
           CAST(sum(CASE WHEN whole THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_docs
    FROM segs GROUP BY shard_id ORDER BY shard_id
"""


# --- q122: the CAPSTONE — the whole training-data prep pipeline as
# one lineage with per-stage funnel accounting. Stages, in order:
#   a_raw            training corpus (benchmark source excluded)
#   b_quality        q97's quality rule (textops.quality_drop)
#   c_exact_dedup    keep min-doc_id per normalized-text hash
#   d_near_dedup     drop non-canonical members of the LSH clusters
#                    (the shared near-dup cluster funnel, same state
#                    q58/q95/q101/q103 read)
#   e_decontaminated drop docs sharing any word 4-gram with the
#                    held-out benchmark source (q105's rule)
#   f_mixture        τ=0.5 temperature accept over the survivors
#                    (q120's integer-exact squared test, counts taken
#                    on the e-stage survivors)
#   g_test/train/val q96's deterministic 80/10/10 split of the final set
# Output: (stage, n_docs, n_tokens) — the drop accounting a data lead
# reads before a run. Every stage is a boolean flag on one base frame,
# so the final reckoning is ONE aggregation; the only extra pass is
# the mixture's per-source count of e-survivors (q111's two-pass
# broadcast-threshold pattern). All counters are integers — no float
# knife edges anywhere in the gate.
def _funnel_base(train: DataFrame) -> DataFrame:
    """Per-doc funnel signals, recomputable on any slice of documents
    (the batch capstone AND each streaming micro-batch build exactly
    this frame): token count, distinct-ratio, normalized-text hash,
    and the s1 quality flag."""
    from .textops import quality_drop, quality_signals

    n_tokens, dr = quality_signals()
    return train.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        dr.alias("dr"),
        F.md5(normalized("text")).alias("h"),
    ).withColumn("s1", ~quality_drop(F.col("n_tokens"), F.col("dr")))


def _funnel_near_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _nd) — non-canonical members of the LSH near-dup
    clusters (the shared near-dup cluster funnel state)."""
    from .sketches import _cluster_labels

    return (
        _cluster_labels(spark, sf_dir)
        .filter(F.col("node") != F.col("label"))
        .select(F.col("node").alias("doc_id"), F.lit(True).alias("_nd"))
    )


def _funnel_bench_grams(docs: DataFrame) -> DataFrame:
    """The held-out benchmark source's distinct word 4-grams (q105's
    contamination reference set)."""
    from .textops import DECON_BENCH_SOURCE, distinct_ngrams

    return (
        distinct_ngrams(docs)
        .filter(F.col("source") == DECON_BENCH_SOURCE)
        .select("g")
        .distinct()
    )


def _funnel_split_cols(df: DataFrame, cnt: DataFrame, mn: DataFrame) -> DataFrame:
    """Attach the mixture accept flag (s5, temperature test against the
    per-source rate table) and the deterministic 80/10/10 split column.
    ``df`` must carry (doc_id, source, s4); ``cnt``/``mn`` are the
    (source, n_s) counts and the 1-row global min — identical whether
    they were just aggregated (batch) or read back from the persisted
    state (stream)."""
    from .textops import split_case

    u16 = F.expr(
        expand_u16(hash_u16("CAST(doc_id AS STRING)", "funnel"), "spark")
    ).cast("long")
    bucket = expand_u16(hash_u16("CAST(doc_id AS STRING)", "split"), "spark")
    return (
        df.join(F.broadcast(cnt), "source", "left")
        .crossJoin(F.broadcast(mn))
        .withColumn(
            "s5",
            F.col("s4")
            & (u16 * u16 * F.col("n_s") < F.lit(65536 * 65536) * F.col("_mn")),
        )
        .withColumn("split", F.expr(split_case(bucket)))
    )


def q122_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import DECON_BENCH_SOURCE, distinct_ngrams

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != DECON_BENCH_SOURCE)
    base = _funnel_base(train)

    keepers = (
        base.filter("s1").groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    )
    near_drops = _funnel_near_drops(spark, sf_dir)
    grams = distinct_ngrams(docs)
    bench = (
        grams.filter(F.col("source") == DECON_BENCH_SOURCE)
        .select("g")
        .distinct()
    )
    cont = (
        grams.filter(F.col("source") != DECON_BENCH_SOURCE)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
        .withColumn("_ct", F.lit(True))
    )
    flagged = (
        base.join(keepers, "h", "left")
        .join(near_drops, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .withColumn("s2", F.col("s1") & (F.col("doc_id") == F.col("keep_id")))
        .withColumn("s3", F.col("s2") & F.col("_nd").isNull())
        .withColumn("s4", F.col("s3") & F.col("_ct").isNull())
        .select("doc_id", "source", "n_tokens", "s1", "s2", "s3", "s4")
        # evaluated twice (mixture-count pass + final reckoning); the
        # checkpoint stops the second pass from redoing the gram join
        # and dedup-keeper join — at 100 TB that recompute would cost
        # more than the materialized flag table (5 narrow columns/doc)
        .localCheckpoint(eager=False)
    )

    cnt = flagged.filter("s4").groupBy("source").agg(
        F.count("*").alias("n_s")
    )
    mn = cnt.agg(F.min("n_s").alias("_mn"))
    final = _funnel_split_cols(flagged, cnt, mn)

    def _cnt(flag):
        return F.sum(F.when(flag, 1).otherwise(0)).cast("long")

    def _tok(flag):
        return F.sum(F.when(flag, F.col("n_tokens")).otherwise(0)).cast("long")

    agg = final.agg(
        F.count("*").alias("a_n"), F.sum("n_tokens").alias("a_t"),
        _cnt(F.col("s1")).alias("b_n"), _tok(F.col("s1")).alias("b_t"),
        _cnt(F.col("s2")).alias("c_n"), _tok(F.col("s2")).alias("c_t"),
        _cnt(F.col("s3")).alias("d_n"), _tok(F.col("s3")).alias("d_t"),
        _cnt(F.col("s4")).alias("e_n"), _tok(F.col("s4")).alias("e_t"),
        _cnt(F.col("s5")).alias("f_n"), _tok(F.col("s5")).alias("f_t"),
        *[
            c
            for sp in ("test", "train", "val")
            for c in (
                _cnt(F.col("s5") & (F.col("split") == sp)).alias(f"g_{sp}_n"),
                _tok(F.col("s5") & (F.col("split") == sp)).alias(f"g_{sp}_t"),
            )
        ],
    )
    stages = [
        ("a_raw", "a_n", "a_t"),
        ("b_quality", "b_n", "b_t"),
        ("c_exact_dedup", "c_n", "c_t"),
        ("d_near_dedup", "d_n", "d_t"),
        ("e_decontaminated", "e_n", "e_t"),
        ("f_mixture", "f_n", "f_t"),
        ("g_test", "g_test_n", "g_test_t"),
        ("g_train", "g_train_n", "g_train_t"),
        ("g_val", "g_val_n", "g_val_t"),
    ]
    stack = ", ".join(f"'{s}', {n}, {t}" for s, n, t in stages)
    return agg.selectExpr(
        f"stack({len(stages)}, {stack}) AS (stage, n_docs, n_tokens)"
    ).orderBy("stage")


def _q122_oracle() -> str:
    from .sketches import _lp_with_body
    from .textops import DECON_BENCH_SOURCE, DECON_N, quality_drop_sql, split_case

    lp_body, final_labels = _lp_with_body()
    u16 = expand_u16(hash_u16("CAST(s4.doc_id AS STRING)", "funnel"), "duckdb")
    bucket = expand_u16(hash_u16("CAST(doc_id AS STRING)", "split"), "duckdb")
    return f"""
      WITH {lp_body},
      sig AS MATERIALIZED (
        SELECT doc_id, source,
               {normalized_md5_sql()} AS h,
               len(arr) AS n_tokens,
               {quality_drop_sql('arr')} AS qdrop
        FROM (
          SELECT doc_id, source, text,
                 {tokens_sql()} AS arr
          FROM documents WHERE source != '{DECON_BENCH_SOURCE}'
        )
      ),
      s1 AS MATERIALIZED (
        SELECT * FROM sig WHERE NOT qdrop
      ),
      keepers AS (SELECT h, min(doc_id) AS keep_id FROM s1 GROUP BY h),
      s2 AS MATERIALIZED (
        SELECT s1.* FROM s1 JOIN keepers k
          ON s1.h = k.h AND s1.doc_id = k.keep_id
      ),
      s3 AS MATERIALIZED (
        SELECT * FROM s2 WHERE doc_id NOT IN (
          SELECT node FROM {final_labels} WHERE node != label
        )
      ),
      allgrams AS MATERIALIZED (
        SELECT doc_id, source,
               unnest(list_distinct({word_ngrams_sql('arr', DECON_N)})) AS g
        FROM (
          SELECT doc_id, source,
                 {tokens_sql()} AS arr
          FROM documents
        ) WHERE len(arr) >= {DECON_N}
      ),
      bench AS (
        SELECT DISTINCT g FROM allgrams WHERE source = '{DECON_BENCH_SOURCE}'
      ),
      cont AS (
        SELECT DISTINCT ag.doc_id FROM allgrams ag JOIN bench USING (g)
        WHERE ag.source != '{DECON_BENCH_SOURCE}'
      ),
      s4 AS MATERIALIZED (
        SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)
      ),
      cnt AS (SELECT source, count(*) AS n_s FROM s4 GROUP BY source),
      mno AS (SELECT min(n_s) AS mn FROM cnt),
      s5 AS MATERIALIZED (
        SELECT s4.* FROM s4 JOIN cnt USING (source) CROSS JOIN mno
        WHERE CAST({u16} AS BIGINT) * CAST({u16} AS BIGINT) * cnt.n_s
              < {65536 * 65536} * mno.mn
      )
      SELECT stage, n_docs, n_tokens FROM (
        SELECT 'a_raw' AS stage, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM sig
        UNION ALL SELECT 'b_quality', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s1
        UNION ALL SELECT 'c_exact_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s2
        UNION ALL SELECT 'd_near_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s3
        UNION ALL SELECT 'e_decontaminated', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s4
        UNION ALL SELECT 'f_mixture', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s5
        UNION ALL
        -- every split row unconditionally (ADVICE r6): the Spark side
        -- stack()s zero-filled g_test/g_train/g_val rows even when a
        -- split bucket is empty, so the oracle must too — a bare
        -- GROUP BY would drop empty splits and hash-mismatch
        SELECT 'g_' || sp.split, COALESCE(g.n_docs, 0),
               COALESCE(g.n_tokens, 0)
        FROM (VALUES ('test'), ('train'), ('val')) sp(split)
        LEFT JOIN (
          SELECT {split_case(bucket)} AS split,
                 count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          FROM s5 GROUP BY 1
        ) g ON g.split = sp.split
      ) ORDER BY stage
    """


# --- Streaming-ingest support for the capstone: the funnel's DECISION
# STATE (exact-dedup keepers, near-dup drop list, benchmark gram set,
# mixture rate table) is built ONCE batch-side and persisted; each
# arriving micro-batch recomputes only its own per-doc signals and
# applies the state via broadcast-able joins. This is the q118
# persisted-band-index pattern lifted to the whole pipeline — the
# 100 TB ingestion story: no global recompute per batch, exactly-once
# landing via the foreachBatch sink (streaming/jobs.py).
def write_shard_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the shard-append stream's evolving state: one row of
    ``virtual_total`` — the token offset the NEXT arrival packs from,
    counted as if every published shard were full (base·cap +
    appended tokens), which is exactly the fresh-shard-per-arrival
    policy q183 applies (published shards are immutable, so a partial
    tail shard is abandoned, not reopened). Snapshots are keyed by
    batch id (``{path}/state/batch=N``) so a replayed micro-batch
    overwrites ITS OWN snapshot instead of double-advancing the
    offset — the idempotency trick run_foreach_batch_parquet's sink
    uses, applied to state. batch=-1 is the initial lake snapshot."""
    from ..functions.ranking import global_cumsum
    from .dedup import INGEST_MOD

    toks = _doc_tokens(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_MOD != 0
    )
    co = global_cumsum(toks, "n_tokens", "doc_id", "doc_id", name="_cum")
    # coalesce: an EMPTY old slice must yield offset 0, not a NULL row
    # that would TypeError the first arrival (review finding)
    base = co.agg(
        (
            F.floor(
                (F.coalesce(F.sum("n_tokens"), F.lit(0))
                 + F.lit(SHARD_TOKENS - 1))
                / F.lit(float(SHARD_TOKENS))
            )
            * F.lit(SHARD_TOKENS)
        ).cast("long").alias("virtual_total")
    )
    base.write.mode("overwrite").parquet(f"{path}/state/batch=-1")


def _virtual_total_before(
    spark: SparkSession, path: str, batch_id: int
) -> int:
    """The offset as of BEFORE ``batch_id``: max snapshot with
    batch < batch_id. Reading strictly-earlier snapshots (never a
    batch's own) is what makes replays idempotent — a batch that died
    after writing its state snapshot but before the sink committed
    recomputes from the same pre-batch offset, not its own advance."""
    snaps = spark.read.option("basePath", f"{path}/state").parquet(
        f"{path}/state"
    )
    row = (
        snaps.filter(F.col("batch") < batch_id)
        .orderBy(F.desc("batch"))
        .first()
    )
    if row is None:
        raise ValueError(
            f"no shard state before batch {batch_id} under {path} — "
            "run write_shard_state first"
        )
    return int(row.virtual_total)


def shard_append_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> DataFrame:
    """Pack one micro-batch of documents into fresh shards starting at
    the persisted offset, advance the state (batch-id-keyed snapshot —
    replays land identically), and return the batch's manifest rows
    (shard_id, n_docs, shard_tokens, first_doc, last_doc). The batch
    packs among itself with q112's floor(start/cap) rule; its shards
    can never collide with published ones because the base is derived
    from the virtual total. Single-batch application over q118's
    arrival slice equals q183's is_new rows exactly (test)."""
    from ..functions.ranking import global_cumsum

    cap = float(SHARD_TOKENS)
    vt = _virtual_total_before(spark, state_dir, batch_id)
    base = vt // SHARD_TOKENS
    toks = batch_df.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    cn = global_cumsum(toks, "n_tokens", "doc_id", "doc_id", name="_cum")
    assign = cn.select(
        "doc_id",
        "n_tokens",
        (
            F.lit(base)
            + F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(cap))
        ).alias("shard_id"),
    )
    out = (
        assign.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
        .localCheckpoint()  # batch-bounded; breaks the read-update race
    )
    batch_tokens = out.agg(F.sum("shard_tokens")).collect()[0][0] or 0
    n_batch_shards = (batch_tokens + SHARD_TOKENS - 1) // SHARD_TOKENS
    new_vt = (base + n_batch_shards) * SHARD_TOKENS
    spark.createDataFrame(
        [(int(new_vt),)], "virtual_total long"
    ).write.mode("overwrite").parquet(
        f"{state_dir}/state/batch={batch_id}"
    )
    return out


def write_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """The pipeline's LAST-MILE action: materialize q115's packed
    shards as a HIVE-PARTITIONED dataset (``{out_dir}/shards`` — one
    directory per shard_id, so a trainer's loader reads shard k with
    directory pruning, never listing the rest) plus
    ``{out_dir}/_manifest`` (q115's per-shard accounting INCLUDING the
    pack_md5 content checksum), so any downstream job can verify every
    shard byte-for-byte without re-reading text. Both frames come from
    :func:`packed_shard_frame` — the one definition of the packing
    convention — so export and manifest can never disagree. Scale
    shape: the per-shard collect_list is bounded at ~SHARD_TOKENS
    tokens by construction; the two writes recompute one lineage
    rather than checkpointing a corpus-sized frame (the q131/dsir
    finding). test_write_training_shards pins manifest == q115,
    on-disk md5 == manifest, and the pruned single-shard read."""
    shards = packed_shard_frame(spark, sf_dir)
    shards.select("shard_id", "seq").write.mode("overwrite").partitionBy(
        "shard_id"
    ).parquet(f"{out_dir}/shards")
    shards.select(
        "shard_id", "n_docs", "shard_tokens", "pack_md5"
    ).write.mode("overwrite").parquet(f"{out_dir}/_manifest")


def write_funnel_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the capstone funnel's decision tables as parquet:
    ``{path}/keepers`` (h → canonical doc_id), ``{path}/near_drops``
    (LSH cluster non-canonicals), ``{path}/bench`` (benchmark
    4-grams), ``{path}/rates`` (per-source s4-survivor counts with the
    global min attached — the mixture test's inputs)."""
    from .textops import DECON_BENCH_SOURCE

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != DECON_BENCH_SOURCE)
    base = _funnel_base(train)
    keepers = (
        base.filter("s1").groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    )
    keepers.write.mode("overwrite").parquet(f"{path}/keepers")
    near_drops = _funnel_near_drops(spark, sf_dir)
    near_drops.write.mode("overwrite").parquet(f"{path}/near_drops")
    bench = _funnel_bench_grams(docs)
    bench.write.mode("overwrite").parquet(f"{path}/bench")
    # rates need the s4 survivors — replay the flag joins on the
    # just-written state so the stream's rate table is EXACTLY the
    # batch capstone's (same inputs, same expressions)
    flags = _funnel_apply_flags(
        base,
        spark.read.parquet(f"{path}/keepers"),
        spark.read.parquet(f"{path}/near_drops"),
        spark.read.parquet(f"{path}/bench"),
        train,
    )
    cnt = flags.filter("s4").groupBy("source").agg(F.count("*").alias("n_s"))
    mn = cnt.agg(F.min("n_s").alias("_mn"))
    cnt.crossJoin(F.broadcast(mn)).write.mode("overwrite").parquet(
        f"{path}/rates"
    )


def _funnel_apply_flags(
    base: DataFrame,
    keepers: DataFrame,
    near_drops: DataFrame,
    bench: DataFrame,
    docs_slice: DataFrame,
) -> DataFrame:
    """The s1→s4 flag chain over ``base``, with every decision input
    passed in as a table (persisted or freshly built — same plan).
    ``docs_slice`` supplies the text for the contamination grams of
    exactly the docs in ``base``."""
    from .textops import distinct_ngrams

    cont = (
        distinct_ngrams(docs_slice)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
        .withColumn("_ct", F.lit(True))
    )
    return (
        base.join(keepers, "h", "left")
        .join(near_drops, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .withColumn("s2", F.col("s1") & (F.col("doc_id") == F.col("keep_id")))
        .withColumn("s3", F.col("s2") & F.col("_nd").isNull())
        .withColumn("s4", F.col("s3") & F.col("_ct").isNull())
        .select("doc_id", "source", "n_tokens", "s1", "s2", "s3", "s4")
    )


def funnel_apply_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame
) -> DataFrame:
    """Run one micro-batch of documents through the full funnel against
    the persisted decision state: recompute the batch's own per-doc
    signals and grams, join the state tables, keep the s5 mixture
    survivors with their split assignment. For docs seen when the
    state was built, per-doc outcomes are IDENTICAL to the batch
    capstone's — every cross-doc decision (keeper choice, near-dup
    clusters, rate table) comes from the state, so batch boundaries
    can't change any answer (asserted by
    test_pipeline_funnel_stream_equals_batch). A GENUINELY NEW doc —
    one whose exact-hash is absent from the persisted keepers — is
    admitted as its own keeper (min doc_id per new hash within the
    batch, so new in-batch duplicates still dedupe to one), rather
    than silently dropped by a NULL keep_id comparison; the elected
    keepers are then APPENDED to ``{state_dir}/keepers`` so the SAME
    novel content arriving in a later micro-batch dedupes against the
    first batch's keeper instead of being admitted twice (round-8
    ADVICE: without the write-back, batch boundaries changed answers
    for never-indexed content). The append is retry-safe: a replayed
    batch's left_anti finds its own hashes already indexed, elects
    nothing new, and the flag join reads back the identical keeper
    rows the first attempt wrote.

    SINGLE WRITER ONLY: the elect-then-append protocol assumes one
    applier per ``state_dir`` (exactly what Structured Streaming's
    sequential ``foreachBatch`` guarantees). Two concurrent appliers
    could both left_anti-miss the same novel hash and both append a
    keeper for it, double-admitting. For local paths a lock file
    enforces this (a second concurrent applier raises); for remote
    URIs the assumption is documented here and the deployment must
    serialize appliers (as foreachBatch does)."""
    import os
    import shutil

    from .textops import DECON_BENCH_SOURCE

    train = batch_df.filter(F.col("source") != DECON_BENCH_SOURCE)
    base = _funnel_base(train)
    local_state = "://" not in state_dir
    lock_fd = None
    if local_state:
        lock_path = os.path.join(state_dir, "_keepers.lock")
        try:
            lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"funnel_apply_batch: {lock_path} exists — another applier "
                "holds this state_dir (or a previous run died mid-batch; "
                "delete the lock after verifying no applier is running)"
            ) from None
    try:
        persisted = spark.read.parquet(f"{state_dir}/keepers")
        # hashes born in this batch: elect a batch-local keeper for
        # each (left_anti on the persisted index — never a scan of old
        # docs), staged to a scratch dir first so the append never
        # reads the directory it is writing to
        pending = f"{state_dir}/_keepers_pending"
        (
            base.filter("s1")
            .join(persisted.select("h"), "h", "left_anti")
            .groupBy("h")
            .agg(F.min("doc_id").alias("keep_id"))
            .write.mode("overwrite")
            .parquet(pending)
        )
        spark.read.parquet(pending).write.mode("append").parquet(
            f"{state_dir}/keepers"
        )
        if local_state:
            # scratch served its purpose; leaving it behind would look
            # like state to a reader listing the dir (ADVICE r9)
            shutil.rmtree(pending, ignore_errors=True)
    finally:
        if lock_fd is not None:
            os.close(lock_fd)
            os.unlink(lock_path)
    flags = _funnel_apply_flags(
        base,
        # fresh read AFTER the append: includes this batch's electees
        spark.read.parquet(f"{state_dir}/keepers"),
        spark.read.parquet(f"{state_dir}/near_drops"),
        spark.read.parquet(f"{state_dir}/bench"),
        train,
    )
    rates = spark.read.parquet(f"{state_dir}/rates")
    cnt = rates.select("source", "n_s")
    mn = rates.select("_mn").distinct()
    return (
        _funnel_split_cols(flags, cnt, mn)
        .filter("s5")
        .select("doc_id", "source", "n_tokens", "split")
    )


# --- q173: temperature-sampling sweep (round 11) — the multilingual
# mixture decision table (mT5/XLM-R practice): per temperature τ, the
# per-language sampling share p_τ(l) ∝ p_raw(l)^τ and the boost over
# raw token share. q120 APPLIES one fixed τ; this table is what picks
# it. One corpus-sized (lang, token-count) aggregate, then all
# arithmetic on |τ|×|langs| rows — corpus-size-independent. pow() is
# libm in both engines; shares are eround-ed (ulp-proof) and the sum
# normalizer runs over ≤|langs| terms.
TEMP_SWEEP = (0.3, 0.5, 0.7, 1.0)


def q173_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lt = (
        docs.select("lang", F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("tok"))
    )
    total = lt.agg(F.sum("tok").alias("total"))
    base = lt.crossJoin(F.broadcast(total)).select(
        "lang",
        "tok",
        (F.col("tok") / F.col("total")).alias("p_raw"),
    )
    sweep = base.select(
        "lang",
        "tok",
        "p_raw",
        F.explode(
            F.array(*[F.lit(t) for t in TEMP_SWEEP])
        ).alias("tau"),
    ).withColumn("w", F.pow("p_raw", F.col("tau")))
    znorm = sweep.groupBy("tau").agg(F.sum("w").alias("z"))
    return (
        sweep.join(F.broadcast(znorm), "tau")
        .select(
            "tau",
            "lang",
            F.col("tok").alias("n_tokens"),
            eround("p_raw", 6).alias("share_raw"),
            eround(F.col("w") / F.col("z"), 6).alias("share_tau"),
            eround((F.col("w") / F.col("z")) / F.col("p_raw"), 4).alias(
                "boost"
            ),
        )
        .orderBy("tau", "lang")
    )


_Q173_ORACLE = f"""
    WITH lt AS (
      SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
      FROM documents GROUP BY lang
    ),
    total AS (SELECT sum(tok) AS total FROM lt),
    base AS (
      SELECT lang, tok, tok / CAST(t.total AS DOUBLE) AS p_raw
      FROM lt CROSS JOIN total t
    ),
    sweep AS (
      SELECT lang, tok, p_raw, s.tau, pow(p_raw, s.tau) AS w
      FROM base, (VALUES {", ".join(f"({t})" for t in TEMP_SWEEP)}) s(tau)
    ),
    znorm AS (SELECT tau, sum(w) AS z FROM sweep GROUP BY tau)
    SELECT s.tau, s.lang, s.tok AS n_tokens,
           round(s.p_raw, 6) AS share_raw,
           round(s.w / z.z, 6) AS share_tau,
           round((s.w / z.z) / s.p_raw, 4) AS boost
    FROM sweep s JOIN znorm z USING (tau)
    ORDER BY s.tau, s.lang
"""


# --- q174: context-length sweep (round 11) — q150's pack-vs-pad
# economics swept over candidate context lengths, corpus-wide: the
# table that picks L before q150 drills into per-source detail. Scale
# shape: the corpus collapses to its TOKEN-LENGTH HISTOGRAM first
# (bounded by distinct doc lengths, not doc count), and the sweep
# explodes over the histogram — one corpus scan total, all ceil
# division integer-exact in both engines.
CTX_SWEEP = (64, 128, 256, 512, 1024, 2048)


def q174_context_length_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(F.size(F.split("text", " ")).alias("n").cast("long"))
        .groupBy("n")
        .agg(F.count("*").alias("c"))
    )
    sw = hist.select(
        "n",
        "c",
        F.explode(
            F.array(*[F.lit(k).cast("long") for k in CTX_SWEEP])
        ).alias("ctx_len"),
    )
    kept_doc = F.least(F.col("n"), F.col("ctx_len"))
    kept = F.sum(F.col("c") * kept_doc)
    n_docs = F.sum("c")
    packed = F.floor(
        (kept + F.col("ctx_len") - 1) / F.col("ctx_len")
    )
    return (
        sw.groupBy("ctx_len")
        .agg(
            n_docs.alias("n_docs"),
            F.sum(F.col("c") * F.col("n")).alias("n_tokens"),
            F.sum(
                F.when(F.col("n") > F.col("ctx_len"), F.col("c")).otherwise(
                    0
                )
            ).alias("n_truncated"),
            eround(
                F.lit(1e-9)
                + F.sum(
                    F.col("c") * F.greatest(F.col("n") - F.col("ctx_len"),
                                            F.lit(0))
                )
                / F.sum(F.col("c") * F.col("n")).cast("double"),
                4,
            ).alias("trunc_token_share"),
            eround(
                F.lit(1e-9)
                + (n_docs * F.col("ctx_len") - kept).cast("double")
                / (n_docs * F.col("ctx_len")),
                4,
            ).alias("pad_waste_share"),
            packed.cast("long").alias("packed_seqs"),
            eround(
                F.lit(1e-9) + n_docs / packed.cast("double"), 4
            ).alias("packing_speedup"),
        )
        .select(
            F.col("ctx_len").cast("int").alias("ctx_len"),
            "n_docs",
            "n_tokens",
            "n_truncated",
            "trunc_token_share",
            "pad_waste_share",
            "packed_seqs",
            "packing_speedup",
        )
        .orderBy("ctx_len")
    )


_Q174_ORACLE = f"""
    WITH hist AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             count(*) AS c
      FROM documents GROUP BY 1
    ),
    sw AS (
      SELECT n, c, CAST(s.ctx_len AS BIGINT) AS ctx_len
      FROM hist,
           (VALUES {", ".join(f"({k})" for k in CTX_SWEEP)}) s(ctx_len)
    )
    SELECT CAST(ctx_len AS INTEGER) AS ctx_len,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum(c * n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN n > ctx_len THEN c ELSE 0 END) AS BIGINT)
             AS n_truncated,
           round(1e-9 + sum(c * greatest(n - ctx_len, 0))
                 / CAST(sum(c * n) AS DOUBLE), 4) AS trunc_token_share,
           round(1e-9 + (sum(c) * ctx_len
                         - sum(c * least(n, ctx_len)))
                 / CAST(sum(c) * ctx_len AS DOUBLE), 4)
             AS pad_waste_share,
           CAST(floor((sum(c * least(n, ctx_len)) + ctx_len - 1)
                      / ctx_len) AS BIGINT) AS packed_seqs,
           round(1e-9 + sum(c)
                 / CAST(floor((sum(c * least(n, ctx_len)) + ctx_len - 1)
                              / ctx_len) AS DOUBLE), 4)
             AS packing_speedup
    FROM sw GROUP BY ctx_len ORDER BY ctx_len
"""


QUERIES = {
    "q173_temperature_sweep": q173_temperature_sweep,
    "q174_context_length_sweep": q174_context_length_sweep,
    "q112_sequence_packing": q112_sequence_packing,
    "q183_incremental_shards": q183_incremental_shards,
    "q113_domain_mixture": q113_domain_mixture,
    "q114_stratified_sample": q114_stratified_sample,
    "q146_weighted_sample": q146_weighted_sample,
    "q150_padding_audit": q150_padding_audit,
    "q115_packed_shards": q115_packed_shards,
    "q116_length_curriculum": q116_length_curriculum,
    "q119_token_shards": q119_token_shards,
    "q120_temperature_mixture": q120_temperature_mixture,
    "q122_pipeline_funnel": q122_pipeline_funnel,
    "q140_token_budget_waterfill": q140_token_budget_waterfill,
}

ORACLES = {
    "q173_temperature_sweep": _Q173_ORACLE,
    "q174_context_length_sweep": _Q174_ORACLE,
    "q116_length_curriculum": _Q116_ORACLE,
    "q119_token_shards": _Q119_ORACLE,
    "q120_temperature_mixture": _q120_oracle(),
    "q122_pipeline_funnel": _q122_oracle(),
    "q112_sequence_packing": _Q112_ORACLE,
    "q183_incremental_shards": _q183_oracle(),
    "q113_domain_mixture": _q113_oracle(),
    "q114_stratified_sample": _q114_oracle(),
    "q146_weighted_sample": _q146_oracle(),
    "q150_padding_audit": _Q150_ORACLE,
    "q115_packed_shards": _Q115_ORACLE,
    "q140_token_budget_waterfill": _Q140_ORACLE,
}
