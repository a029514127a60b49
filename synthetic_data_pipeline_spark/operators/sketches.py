"""Sketch-style operators, deterministic and oracle-checked.

Real deployments would use Spark's built-in sketches (HLL, Bloom via
DataFrameStatFunctions) whose binary states are engine-specific; these
md5-based twins have exactly reproducible state, so the DuckDB oracle
verifies the *algorithm*, not just row counts:

- q57: Bloom-filter membership — build m-bit filter over customer keys
  with k=3 md5 hash functions, probe supplier keys; reports true
  members vs Bloom positives (the false-positive count is a property
  of the data + hash family, identical across engines).
- q58: duplicate-cluster formation over the MinHash candidate pairs —
  exact connected components by star contraction on Spark
  (``cc_star_labels``); the DuckDB oracle unrolls min-label
  propagation LP_ITERS times, and q103 certifies that the unroll
  covers the corpus (every cluster's diameter fits in it).
- q59: token-entropy quality signal per document (Shannon entropy of
  the token frequency distribution) — the "compression-ratio-ish"
  quality score of LLM data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state
from ..functions.grams import tokens, tokens_sql, word_ngrams_sql
from ..functions.xsql import hash_u16
from ..functions.rounding import eround
from ..sources.tables import fan_out_scan, load_table

BLOOM_BITS = 4096
BLOOM_K = 3
LP_ITERS = 5


def _bit(col_sql: str, i: int) -> str:
    return f"({hash_u16(col_sql, f'bloom{i}')} % {BLOOM_BITS})"


def q57_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.xsql import expand_u16

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(expand_u16(_BLOOM_SQL, "spark"))


_BLOOM_SQL = f"""
  WITH bits AS (
    {" UNION ".join(f"SELECT DISTINCT {_bit('c_custkey', i)} AS bit FROM customer" for i in range(BLOOM_K))}
  ),
  probes AS (
    SELECT s_suppkey,
           {", ".join(f"{_bit('s_suppkey', i)} AS b{i}" for i in range(BLOOM_K))}
    FROM supplier
  ),
  hits AS (
    SELECT p.s_suppkey,
           {" AND ".join(f"(b{i} IN (SELECT bit FROM bits))" for i in range(BLOOM_K))} AS bloom_member,
           EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = p.s_suppkey) AS true_member
    FROM probes p
  )
  SELECT count(*) AS n_probes,
         CAST(sum(CASE WHEN bloom_member THEN 1 ELSE 0 END) AS BIGINT) AS bloom_positives,
         CAST(sum(CASE WHEN true_member THEN 1 ELSE 0 END) AS BIGINT) AS true_members,
         CAST(sum(CASE WHEN bloom_member AND NOT true_member THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
         CAST(sum(CASE WHEN true_member AND NOT bloom_member THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives
  FROM hits
"""


# The LSH funnel — shingle → minhash → band bucket-join → star
# contraction — is identical for every consumer (q58 histogram, q95
# retention, q101 dedup action, q103 convergence probe), so one session
# builds its (edges, labels) ONCE in the session state store and every
# later consumer reads the persisted frames. At 100 TB this is the
# "materialize the retention list once" pattern the docstrings promise:
# the funnel is the expensive part (corpus-wide shuffles); the
# consumers only aggregate/join its small (node,label) output.
#
# The other memos of this module ride the same store:
# - incr_base_labels: q163's old-side base clusters, the persisted
#   state a lake would HOLD between ingest batches (recomputing them
#   per call was the demo simplification);
# - delta_base_labels / delta_gram_counts: q203's release-N label state
#   and its two-decade gram-count frame (source, g, df_new, df_old), the
#   persisted evolving-state index of the release pipeline (r14);
# - delta_gram_posting: q203's doc↔gram inverted slice (doc_id, source,
#   g) — the posting-list sibling of the count frame (the shape
#   write_bm25_index persists as {path}/tf, at the decontamination
#   4-gram grain). The per-call `affected` probe filters it instead of
#   re-exploding the old corpus (VERDICT r14 #1), and the count frame
#   derives from it, so a cold build pays ONE corpus gram explode;
# - edit_prev_state: q205's simulated previous-release state.


def _delta_gram_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized full-corpus distinct-4-gram posting frame
    (doc_id, source, g), persisted."""
    from pyspark import StorageLevel

    from .textops import distinct_ngrams

    def build():
        docs = load_table(spark, sf_dir, "documents")
        posting = distinct_ngrams(docs).persist(StorageLevel.MEMORY_AND_DISK)
        posting.count()  # materialize before the lineage forks
        return posting

    return state.get_or_build(spark, "delta_gram_posting", sf_dir, build)


def _incr_base_labels(spark: SparkSession, sf_dir: str, sig: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    from .dedup import INGEST_MOD, lsh_candidates

    def build():
        is_new = F.col("doc_id") % INGEST_MOD == 0
        labels = cc_star_labels(lsh_candidates(sig.filter(~is_new))).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        labels.count()  # materialize before anyone forks the lineage
        return labels

    return state.get_or_build(spark, "incr_base_labels", sf_dir, build)


def _cluster_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized (edges, labels) of the near-dup graph: ``edges`` is the
    symmetric candidate-pair frame, ``labels`` its exact connected
    components (``cc_star_labels``; label = min doc_id). Both frames
    are persisted eagerly on first build; results are identical
    whether or not the memo hits (same lineage, same determinism)."""
    return state.get_or_build(
        spark, "cluster_state", sf_dir,
        lambda: _build_cluster_state(spark, sf_dir),
    )


def _build_cluster_state(spark: SparkSession, sf_dir: str):
    from pyspark import StorageLevel

    from .dedup import shingle_state

    _, pairs = shingle_state(spark, sf_dir)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = cc_star_labels(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()  # materialize before anyone forks the lineage
    return edges, labels


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_state(spark, sf_dir)[1]


def _size_histogram(labels: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters) over a (node, label) clustering."""
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q58_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the LSH connected components."""
    return _size_histogram(_cluster_labels(spark, sf_dir))


def q95_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION the clusters exist for: within each near-dup
    cluster keep the minimum-id member (the cluster label, canonical
    by construction) and list every dropped doc with its canonical.
    Docs outside any cluster are implicitly kept; an anti-join of the
    corpus against this result IS the deduplicated dataset, so the
    operator composes with any downstream query without a second
    clustering pass."""
    labels = _cluster_labels(spark, sf_dir)
    return (
        labels.filter(F.col("node") != F.col("label"))
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("canonical_id"),
        )
        .orderBy("doc_id")
    )


def _lp_with_body(
    iters: int = LP_ITERS, src: str = "documents", prefix: str = ""
) -> tuple[str, str]:
    """(WITH-clause body, final-labels CTE name) shared by the q58,
    q95, q101 and (with one extra probe round) q103 oracles. ``src``
    re-points the shingle scan at a filtered relation and ``prefix``
    namespaces every CTE so TWO funnels (e.g. q203's release-N old
    slice and release-N+1 full corpus) coexist in one WITH chain."""
    from .dedup import _SHINGLES_SQL, BAND_ROWS, N_HASHES

    # Every round references the previous one TWICE (self + the
    # neighbor-min subquery). DuckDB inlines plain CTEs, so without
    # MATERIALIZED the funnel would be recomputed 2^iters times —
    # measured 245 s for the 6-round q103 probe at sf0.01 vs ~4 s
    # materialized. Spark is unaffected (its side persists the funnel
    # via the session memo).
    p = prefix
    steps = []
    prev = f"{p}l0"
    for it in range(1, iters + 1):
        steps.append(
            f"""{p}l{it} AS MATERIALIZED (
              SELECT l.node,
                     least(l.label, coalesce(n.nlabel, l.label)) AS label
              FROM {prev} l
              LEFT JOIN (
                SELECT e.doc_a, min(x.label) AS nlabel
                FROM {p}edges e JOIN {prev} x ON e.doc_b = x.node
                GROUP BY e.doc_a
              ) n ON l.node = n.doc_a
            )"""
        )
        prev = f"{p}l{it}"
    body = f"""
      {p}tokens AS MATERIALIZED ({_SHINGLES_SQL.format(src=src)}),
      {p}mins AS MATERIALIZED (
        SELECT doc_id,
               {", ".join(f"min(md5(concat(token, ':', {h}))) AS m{h}" for h in range(N_HASHES))}
        FROM {p}tokens GROUP BY doc_id
      ),
      {p}banded AS MATERIALIZED (
        {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, concat(m{b * BAND_ROWS}, m{b * BAND_ROWS + 1}) AS minhash FROM {p}mins"
          for b in range(N_HASHES // BAND_ROWS)
        )}
      ),
      {p}pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {p}banded a JOIN {p}banded b
          ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
      ),
      {p}edges AS MATERIALIZED (
        SELECT doc_a, doc_b FROM {p}pairs
        UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM {p}pairs
      ),
      {p}l0 AS MATERIALIZED (
        SELECT DISTINCT doc_a AS node, doc_a AS label FROM {p}edges
      ),
      {", ".join(steps)}"""
    return body, prev


def _dup_clusters_oracle() -> str:
    body, final = _lp_with_body()
    return f"""
      WITH {body},
      sizes AS (
        SELECT label, count(*) AS cluster_size FROM {final} GROUP BY label
      )
      SELECT cluster_size, count(*) AS n_clusters
      FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


def _dedup_retention_oracle() -> str:
    body, final = _lp_with_body()
    return f"""
      WITH {body}
      SELECT node AS doc_id, label AS canonical_id
      FROM {final} WHERE node != label ORDER BY doc_id
    """


def _dedup_summary(docs: DataFrame, dropped: DataFrame) -> DataFrame:
    """Anti-join the corpus against a retention list and summarize the
    survivors per source — shared by q101 (in-session funnel) and
    ``deduped_corpus_from`` (persisted retention table)."""
    kept = docs.join(dropped.select("doc_id"), "doc_id", "left_anti")
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            eround(1e-9 + F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


def q176_dedup_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report (round 11): what the q95 retention decision is
    WORTH, per source — docs and bytes (n_chars) the keeper rule
    drops, and the drop shares. q101 summarizes the survivors; this
    prices the pass itself (the storage/compute-saved number a
    platform review asks for before scheduling a 100 TB dedup job).
    Rides the memoized cluster funnel; the corpus is touched once for the
    (source, n_chars) projection and left-joins the bounded dropped
    list."""
    labels = _cluster_labels(spark, sf_dir)
    dropped = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("is_drop")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    flagged = docs.join(dropped, "doc_id", "left").fillna(
        0, ["is_drop"]
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("is_drop").alias("n_dropped"),
            F.sum(F.col("is_drop") * F.col("n_chars")).alias(
                "chars_dropped"
            ),
            eround(
                F.sum("is_drop") / F.count("*").cast("double"), 6
            ).alias("doc_drop_share"),
            eround(
                F.sum(F.col("is_drop") * F.col("n_chars"))
                / F.sum("n_chars").cast("double"),
                6,
            ).alias("char_drop_share"),
        )
        .orderBy("source")
    )


def _dedup_roi_oracle() -> str:
    body, final = _lp_with_body()
    return f"""
      WITH {body},
      dropped AS (
        SELECT node AS doc_id, 1 AS is_drop FROM {final}
        WHERE node != label
      ),
      flagged AS (
        SELECT d.source, d.n_chars, coalesce(x.is_drop, 0) AS is_drop
        FROM documents d LEFT JOIN dropped x USING (doc_id)
      )
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(is_drop) AS BIGINT) AS n_dropped,
             CAST(sum(is_drop * n_chars) AS BIGINT) AS chars_dropped,
             round(sum(is_drop) / CAST(count(*) AS DOUBLE), 6)
               AS doc_drop_share,
             round(sum(is_drop * n_chars)
                   / CAST(sum(n_chars) AS DOUBLE), 6)
               AS char_drop_share
      FROM flagged GROUP BY source ORDER BY source
    """


# --- q192: pipeline-stage overlap audit (round 11, session 2) — the
# Venn behind the "filter first or dedup first?" ordering debate every
# large pipeline has: per source, how many docs each stage drops ALONE
# vs how many BOTH drop. A high overlap_rate (share of dedup's drops
# the quality filter would have removed anyway) means running the
# cheap per-row filter first saves that fraction of the expensive
# near-dup verify work; a low one means order barely matters. Rides
# the memoized cluster funnel (q176's class) + q97's drop flag
# (textops.quality_drop_expr — the SAME expression q97 applies, so
# the audit can't drift from the filter); corpus touched once for the
# flag projection, dropped list left-joined (bounded).
def q192_stage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import quality_drop_expr

    labels = _cluster_labels(spark, sf_dir)
    dropped = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("ddrop")
    )
    docs = load_table(spark, sf_dir, "documents")
    flags = quality_drop_expr(docs).join(dropped, "doc_id", "left").select(
        "source",
        "qdrop",
        F.coalesce("ddrop", F.lit(False)).alias("ddrop"),
    )
    agg = flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("ddrop") & ~F.col("qdrop"), 1).otherwise(0)
        ).alias("n_dedup_only"),
        F.sum(
            F.when(F.col("qdrop") & ~F.col("ddrop"), 1).otherwise(0)
        ).alias("n_quality_only"),
        F.sum(
            F.when(F.col("qdrop") & F.col("ddrop"), 1).otherwise(0)
        ).alias("n_both"),
        F.sum(
            F.when(~F.col("qdrop") & ~F.col("ddrop"), 1).otherwise(0)
        ).alias("n_kept"),
    )
    n_dedup = F.col("n_dedup_only") + F.col("n_both")
    return agg.select(
        "source",
        "n_docs",
        "n_dedup_only",
        "n_quality_only",
        "n_both",
        "n_kept",
        F.when(n_dedup == 0, None)
        .otherwise(
            eround(1e-9 + F.col("n_both") / n_dedup.cast("double"), 4)
        )
        .alias("overlap_rate"),
    ).orderBy("source")


def _stage_overlap_oracle() -> str:
    from .textops import quality_drop_sql

    body, final = _lp_with_body()
    return f"""
      WITH {body},
      dropped AS (
        SELECT node AS doc_id, TRUE AS ddrop FROM {final}
        WHERE node != label
      ),
      q AS (
        SELECT doc_id, source,
               {quality_drop_sql(tokens_sql())} AS qdrop
        FROM documents
      ),
      flags AS (
        SELECT q.source, q.qdrop, coalesce(x.ddrop, FALSE) AS ddrop
        FROM q LEFT JOIN dropped x USING (doc_id)
      ),
      agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN ddrop AND NOT qdrop THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup_only,
               CAST(sum(CASE WHEN qdrop AND NOT ddrop THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_only,
               CAST(sum(CASE WHEN qdrop AND ddrop THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN NOT qdrop AND NOT ddrop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM flags GROUP BY source
      )
      SELECT source, n_docs, n_dedup_only, n_quality_only, n_both, n_kept,
             (CASE WHEN n_dedup_only + n_both = 0 THEN NULL
                   ELSE round(1e-9 + n_both
                              / CAST(n_dedup_only + n_both AS DOUBLE), 4)
              END) AS overlap_rate
      FROM agg ORDER BY source
    """


# --- q195: cluster-chaining audit (round 11, session 2) — the risk
# hiding inside every connected-component dedup (q58/q95): CC merges
# A~B and B~C into one cluster even when A and C share nothing
# (transitive chaining), so the keeper rule may drop documents that
# are NOT near-dups of the kept canonical. Per cluster size, the edge
# DENSITY of the candidate graph that built the clusters
# (2·edges/(k·(k−1))): density 1.0 = clique (safe to keep one copy),
# low density = chain (the drop decision is riskier the longer the
# chain). Rides the memoized cluster state — edges and labels are
# already persisted; the audit is one label-keyed edge count + a
# |cluster-sizes|-key agg. Both endpoints of every funnel edge share
# a label by construction (the edges ARE what CC connected), pinned
# by the reconciliation test.
def edge_density_by_cluster(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """q195's core: per cluster size, edge density of the
    (both-directions) candidate graph under a (node, label) clustering.
    Factored out so the chain-vs-clique discrimination is testable on
    planted graphs."""
    # undirected edge count per cluster: edges holds both directions,
    # so count(a<b) gives each edge once; label via the a-endpoint
    e_cnt = (
        edges.filter(F.col("doc_a") < F.col("doc_b"))
        .join(labels, edges["doc_a"] == labels["node"])
        .groupBy("label")
        .agg(F.count("*").alias("n_edges"))
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("k"))
    dens = (
        sizes.join(e_cnt, "label")
        .withColumn(
            "density",
            eround(
                1e-9
                + 2.0 * F.col("n_edges")
                / (F.col("k") * (F.col("k") - 1)).cast("double"),
                4,
            ),
        )
    )
    return (
        dens.groupBy(F.col("k").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("n_edges").alias("n_edges"),
            eround(1e-9 + F.avg("density"), 4).alias("avg_density"),
            F.min("density").alias("min_density"),
        )
        .orderBy("cluster_size")
    )


def q195_cluster_chaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, labels = _cluster_state(spark, sf_dir)
    return edge_density_by_cluster(edges, labels)


def _cluster_chaining_oracle() -> str:
    body, final = _lp_with_body()
    return f"""
      WITH {body},
      e_cnt AS (
        SELECT l.label, count(*) AS n_edges
        FROM edges e JOIN {final} l ON e.doc_a = l.node
        WHERE e.doc_a < e.doc_b
        GROUP BY l.label
      ),
      sizes AS (
        SELECT label, count(*) AS k FROM {final} GROUP BY label
      ),
      dens AS (
        SELECT s.label, s.k, c.n_edges,
               round(1e-9 + 2.0 * c.n_edges
                     / CAST(s.k * (s.k - 1) AS DOUBLE), 4) AS density
        FROM sizes s JOIN e_cnt c USING (label)
      )
      SELECT CAST(k AS BIGINT) AS cluster_size,
             count(*) AS n_clusters,
             CAST(sum(n_edges) AS BIGINT) AS n_edges,
             round(1e-9 + avg(density), 4) AS avg_density,
             min(density) AS min_density
      FROM dens GROUP BY k ORDER BY cluster_size
    """


def q101_deduped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION applied end-to-end: anti-join the corpus
    against the q95 retention list (drop every non-canonical cluster
    member) and summarize the surviving corpus per source — the
    materialization step a training-data pipeline runs after
    clustering (reference has no dedup at all; north-star op). At
    100 TB: the retention list is small relative to the corpus when
    dup rates are sane, so Catalyst broadcasts it (AQE decides from the
    measured size — no forced hint, since a pathological 50%-dup corpus
    would need the shuffle anti-join) and the corpus streams through in
    one narrow pass; the only shuffle carries |sources| aggregate
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup_summary(docs, q95_dedup_retention(spark, sf_dir))


def cluster_representatives(
    docs: DataFrame, labels: DataFrame
) -> DataFrame:
    """Quality-based cluster representative selection: within each
    near-dup cluster keep the member with the MOST DISTINCT TOKENS
    (length x diversity, and integer-exact in both engines so the
    argmax is deterministic), tie-broken by min doc_id — the
    production dedup policy (keep the best copy), reported against the
    min-id policy q95/q101 apply (keep the first copy). Per keeper
    source: cluster count, how many keepers CHANGED vs min-id, and the
    average quality gained by choosing quality over arrival order.

    Shape at scale: the corpus is touched once (doc_id, source,
    distinct-token count projection); every later frame is bounded by
    the candidate-graph membership, and the argmax is the two-pass
    max-then-min-id pattern — no window, no max_by nondeterminism.

    ``labels``: (node, label) as produced by the cluster funnel."""
    q = docs.select(
        "doc_id",
        "source",
        F.size(F.array_distinct(tokens(F.col("text")))).alias("q"),
    )
    m = q.join(labels.withColumnRenamed("node", "doc_id"), "doc_id")
    agg = m.groupBy("label").agg(
        F.max("q").alias("mq"), F.min("doc_id").alias("minid")
    )
    keeper = (
        m.join(agg.select("label", "mq"), "label")
        .filter(F.col("q") == F.col("mq"))
        .groupBy("label")
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    kq = m.select(
        "label",
        F.col("doc_id").alias("keeper_id"),
        F.col("q").alias("q_keeper"),
        "source",
    )
    mn = m.select(
        "label",
        F.col("doc_id").alias("minid"),
        F.col("q").alias("q_minid"),
    )
    rep = (
        keeper.join(agg, "label")
        .join(kq, ["label", "keeper_id"])
        .join(mn, ["label", "minid"])
    )
    return (
        rep.groupBy("source")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum(
                F.when(F.col("keeper_id") != F.col("minid"), 1).otherwise(0)
            ).alias("n_upgrades"),
            eround(
                F.lit(1e-9) + F.avg(F.col("q_keeper") - F.col("q_minid")), 4
            ).alias("avg_quality_gain"),
            eround(F.lit(1e-9) + F.avg("q_keeper"), 4).alias(
                "avg_keeper_quality"
            ),
        )
        .orderBy("source")
    )


def q144_cluster_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return cluster_representatives(
        load_table(spark, sf_dir, "documents"), _cluster_labels(spark, sf_dir)
    )


def _cluster_representatives_oracle() -> str:
    body, final = _lp_with_body()
    return f"""
      WITH {body},
      qual AS (
        SELECT doc_id, source,
               len(list_distinct(
                 {tokens_sql()})) AS q
        FROM documents
      ),
      m AS (
        SELECT lb.label, qu.doc_id, qu.q, qu.source
        FROM {final} lb JOIN qual qu ON qu.doc_id = lb.node
      ),
      agg AS (
        SELECT label, max(q) AS mq, min(doc_id) AS minid
        FROM m GROUP BY label
      ),
      keeper AS (
        SELECT m.label, min(m.doc_id) AS keeper_id
        FROM m JOIN agg USING (label) WHERE m.q = agg.mq GROUP BY m.label
      ),
      rep AS (
        SELECT kq.source, (k.keeper_id != a.minid) AS upgraded,
               kq.q AS q_keeper, mn.q AS q_minid
        FROM keeper k
        JOIN agg a USING (label)
        JOIN m kq ON kq.label = k.label AND kq.doc_id = k.keeper_id
        JOIN m mn ON mn.label = k.label AND mn.doc_id = a.minid
      )
      SELECT source, count(*) AS n_clusters,
             CAST(sum(CASE WHEN upgraded THEN 1 ELSE 0 END) AS BIGINT)
               AS n_upgrades,
             round(1e-9 + avg(q_keeper - q_minid), 4) AS avg_quality_gain,
             round(1e-9 + avg(q_keeper), 4) AS avg_keeper_quality
      FROM rep GROUP BY source ORDER BY source
    """


def cluster_aware_split(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Leakage-free train/val/test split: the split key is the doc's
    near-dup CLUSTER label (its own doc_id when unclustered), hashed
    with q96's counter-mode md5 mechanism — so near-duplicates can
    never straddle a split boundary. q96 hashes doc_id directly, which
    puts ~1-(0.8²+0.1²+0.1²) of every 2-doc dup cluster across splits:
    exactly the train→test leakage q127 measures. Per split: doc
    count, docs that belong to a cluster, and distinct clusters (a
    cluster appears in EXACTLY one split by construction — pinned by
    test, not just asserted).

    Shape at scale: corpus left-joins the candidate-graph-bounded
    label table (AQE broadcasts it at sane dup rates — q101's
    reasoning), then a narrow map + one 3-key aggregate; the distinct
    count is bounded by cluster count per split."""
    return (
        cluster_split_assignments(docs, labels)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("clustered"), 1).otherwise(0)).alias(
                "n_clustered_docs"
            ),
            F.count_distinct(
                F.when(F.col("clustered"), F.col("gkey"))
            ).alias("n_clusters"),
        )
        .orderBy("split")
    )


def cluster_split_assignments(
    docs: DataFrame, labels: DataFrame
) -> DataFrame:
    """(doc_id, clustered, gkey, split) — the per-doc assignment
    cluster_aware_split aggregates; exposed so tests can pin the
    leakage-freedom invariant (one split per gkey) at doc level."""
    from ..functions.xsql import expand_u16, hash_u16
    from .textops import split_case

    g = docs.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
    keyed = g.select(
        "doc_id",
        F.col("label").isNotNull().alias("clustered"),
        F.coalesce(F.col("label"), F.col("doc_id")).alias("gkey"),
    )
    bucket = expand_u16(hash_u16("CAST(gkey AS STRING)", "csplit"), "spark")
    return keyed.selectExpr(
        "doc_id", "clustered", "gkey", f"{split_case(bucket)} AS split"
    )


def q145_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_aware_split(
        load_table(spark, sf_dir, "documents"), _cluster_labels(spark, sf_dir)
    )


def _cluster_aware_split_oracle() -> str:
    from ..functions.xsql import expand_u16, hash_u16
    from .textops import split_case

    body, final = _lp_with_body()
    bucket = expand_u16(hash_u16("CAST(gkey AS STRING)", "csplit"), "duckdb")
    return f"""
      WITH {body},
      keyed AS (
        SELECT (lb.label IS NOT NULL) AS clustered,
               coalesce(lb.label, d.doc_id) AS gkey
        FROM documents d LEFT JOIN {final} lb ON lb.node = d.doc_id
      )
      SELECT {split_case(bucket)} AS split,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clustered_docs,
             count(DISTINCT CASE WHEN clustered THEN gkey END) AS n_clusters
      FROM keyed GROUP BY 1 ORDER BY split
    """


def write_label_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the cluster labels as a parquet table — the
    cross-JOB index the streaming split router joins against (same
    persisted-state pattern as write_retention / write_span_index)."""
    _cluster_labels(spark, sf_dir).write.mode("overwrite").parquet(path)


def write_retention(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the retention list as a parquet table — the
    cross-JOB form of the in-session funnel memo. At 100 TB the LSH
    funnel runs once per corpus snapshot and every downstream job
    anti-joins against the persisted list; this is that run."""
    q95_dedup_retention(spark, sf_dir).write.mode("overwrite").parquet(path)


def deduped_corpus_from(
    spark: SparkSession, sf_dir: str, retention_path: str
) -> DataFrame:
    """q101's action against a PERSISTED retention list: zero
    clustering work — scan corpus, anti-join the parquet retention
    table, aggregate. The plan touches no shingles, signatures, or
    label state; a test pins that this never rebuilds the funnel."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup_summary(docs, spark.read.parquet(retention_path))


def _deduped_corpus_oracle() -> str:
    body, final = _lp_with_body()
    return f"""
      WITH {body},
      dropped AS (
        SELECT node AS doc_id FROM {final} WHERE node != label
      )
      SELECT d.source,
             count(*) AS n_docs,
             CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
             round(1e-9 + avg(d.n_chars), 4) AS avg_chars
      FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
      GROUP BY d.source ORDER BY d.source
    """


def q103_lp_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence telemetry: run ONE extra min-label round over the
    final labels and count how many nodes would still change. The
    Spark labels are exact components (``cc_star_labels``), so here
    n_changed is 0 by construction; the DuckDB oracle runs the same
    probe past its LP_ITERS-round unroll, so parity certifies that
    every dup cluster's diameter fits inside the oracle's unroll — a
    deeper chain turns into a measured mismatch instead of a silent
    under-merge on the reference side. Shares the memoized funnel, so
    the marginal cost is one small join over the persisted
    (node,label) frame."""
    edges, labels = _cluster_state(spark, sf_dir)
    neigh = (
        edges.join(labels, edges.doc_b == labels.node)
        .groupBy("doc_a")
        .agg(F.min("label").alias("nlabel"))
    )
    probe = labels.join(neigh, labels.node == neigh.doc_a, "left").select(
        "label",
        F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
            "next_label"
        ),
    )
    return probe.agg(
        F.count("*").alias("n_nodes"),
        F.sum((F.col("next_label") != F.col("label")).cast("long")).alias(
            "n_changed"
        ),
    )


def _lp_convergence_oracle() -> str:
    body, final = _lp_with_body(LP_ITERS + 1)  # one probe round past l5
    return f"""
      WITH {body}
      SELECT count(*) AS n_nodes,
             CAST(sum(CASE WHEN a.label != b.label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed
      FROM l{LP_ITERS} a JOIN {final} b ON a.node = b.node
    """


# --- exact connected components via alternating large-star /
# small-star (Kiveris et al. 2014, "Connected Components in MapReduce
# and Beyond"): the one Spark kernel for cluster labels. It converges
# to the true components in O(log^2 n) rounds regardless of diameter,
# with a driver-side stability check (one 1-row aggregate per round)
# instead of a fixed unroll. The DuckDB oracles unroll min-label
# propagation (_lp_with_body); on every corpus where q103 reports
# n_changed = 0 the two labelings are identical.
CC_MAX_ROUNDS = 15


def cc_star_labels(pairs: DataFrame) -> DataFrame:
    """(node, label) exact connected components of an undirected
    (doc_a, doc_b) edge frame; label = min doc_id of the component
    (the canonical-keeper convention every dedup consumer relies on).

    Each round is two grouped aggregations + two joins over the
    current edge set (never the corpus): large-star hangs every
    larger-id neighbor off the neighborhood minimum, small-star
    contracts the smaller-id neighbors. High-degree hubs cost one
    grouped min each — no neighbor list is ever collected.

    Every round is checkpointed and checksummed; two equal
    consecutive checksums mean the edge set reached its fixed point
    (a star forest). Measured depths: 2-3 rounds on the generated
    corpora, 13 on a 4,096-node path, 15 on a 16,384-node path."""
    e = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _checksum(df: DataFrame):
        # bit_xor, not sum: orderless, collision-safe over DISTINCT
        # rows, and cannot overflow under ANSI mode
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias(
                "h"
            ),
        ).first()
        return (row["n"], row["h"])

    prev = None
    for _ in range(CC_MAX_ROUNDS):
        # large-star over the symmetric neighborhood: every neighbor
        # v > u re-attaches to m(u) = min(N(u) ∪ {u})
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        big_m = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.join(big_m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # no distinct on the large-star output: small_m's grouped min
        # is map-side combined (duplicates collapse in the partial agg)
        # and the round-end distinct dedupes the join output, so one
        # exchange per round is saved
        e1 = large.filter(F.col("a") != F.col("b")).select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        # small-star over larger-endpoint-directed edges: u's smaller
        # neighbors (and u itself) re-attach to m(u) = min of them
        small_m = e1.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            e1.join(small_m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(
                small_m.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        )
        e = (
            small.filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        cs = _checksum(e)
        if cs == prev:
            break
        prev = cs
    else:
        # the trailing star-forest read below is only valid at a fixed
        # point; falling out of the round budget silently would emit
        # duplicate (node, label) rows or non-min labels (ADVICE r9)
        raise RuntimeError(
            f"cc_star_labels: edge set not stable after {CC_MAX_ROUNDS} "
            "rounds — raise CC_MAX_ROUNDS (star contraction needs "
            "O(log^2 n) rounds; generated corpora converge in 2-3 and a "
            "16,384-node path in 15, so non-convergence signals a "
            "degenerate input)"
        )
    # at the fixed point the edge set is a star forest: every non-root
    # points at its component's min id, roots label themselves
    lbl = e.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    return lbl.union(roots)


def q139_cc_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q58 under its registry name (the driver contract lists both)."""
    return _size_histogram(_cluster_labels(spark, sf_dir))


# --- q163: INCREMENTAL cluster maintenance — the 100 TB "documents
# arrived, update the near-dup clusters WITHOUT re-clustering the
# lake" operation (the cluster-tier sibling of q118/q132/q159's
# incremental family). The hard case is a BRIDGE: one new doc whose
# buckets touch two previously-separate old components — naive
# "attach new doc to an existing cluster" designs miss the merge.
# Exact solution by CONTRACTION: each old component collapses to its
# label node (labels are min-ids, so the contracted graph's min IS the
# merged component's true min); new edges connect new docs to old
# LABELS (+ other new docs); star contraction runs on that contracted
# graph only — its size is bounded by the batch's edge fan-out, never
# the lake. MinHash band signatures are PER-DOC (corpus-independent),
# so pairs(old ∪ new) = pairs(old) ∪ pairs(touching new) exactly —
# the incremental result provably equals the full re-cluster, and the
# driver gate pins that equality: this query returns q58's histogram
# computed down the incremental path against q58's full-recompute
# oracle. Per-ingest work: the batch's signatures join the (persisted,
# here derived) corpus signature table on (band, minhash) — new-keyed,
# never old×old — plus CC on the contracted graph.
def incremental_cluster_labels(
    sig_all: DataFrame, sig_new: DataFrame, old_labels: DataFrame
) -> DataFrame:
    """(node, label) over the clustered docs of the union corpus,
    computed incrementally. ``sig_all``: the (doc_id, band, minhash)
    frame of the union (persisted corpus + batch); ``sig_new``: the
    batch slice of it; ``old_labels``: the persisted CC labels of the
    OLD pair graph. New/old node identity is resolved by semi/anti
    joins against the batch's ids, so the split works for ANY batch —
    including evolving multi-batch state where no id predicate exists."""
    new_ids = sig_new.select(F.col("doc_id").alias("node")).distinct()
    a = sig_new.alias("a")
    b = sig_all.alias("b")
    edges_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("n_id"),
            F.col("b.doc_id").alias("other"),
        )
        .distinct()
    )
    mapped = (
        edges_new.join(
            old_labels.select(
                F.col("node").alias("other"), F.col("label").alias("olbl")
            ),
            "other",
            "left",
        )
        # old doc outside any old cluster contracts to itself
        .select(
            F.col("n_id").alias("doc_a"),
            F.coalesce("olbl", F.col("other")).alias("doc_b"),
        )
    )
    comp = cc_star_labels(mapped)
    # contracted-node labels split cleanly: batch ids vs old(-label) ids
    new_final = comp.join(new_ids, "node", "semi")
    old_side = comp.join(new_ids, "node", "anti")
    relabel = old_side.select(
        F.col("node").alias("olbl_node"), F.col("label").alias("mlabel")
    )
    # relabel is bounded by the batch's edge fan-out while old_labels
    # is lake-sized — broadcast the small side so the labels table is
    # relabeled in place, never reshuffled (plan audit: AQE left this
    # as a sort-merge join pre-execution)
    old_final = (
        old_labels.join(
            F.broadcast(relabel),
            old_labels["label"] == F.col("olbl_node"),
            "left",
        )
        .select(
            "node", F.coalesce("mlabel", old_labels["label"]).alias("label")
        )
        # a REPLAYED batch's docs already sit in old_labels; they are
        # re-emitted through new_final, so drop them here or the
        # labels table would carry duplicate rows after a retry
        .join(new_ids, "node", "anti")
    )
    # old singletons pulled into a component by a new bridge doc
    # appear in comp as their own contracted node but not in
    # old_labels — surface them too
    old_single = old_side.join(
        old_labels.select(F.col("label").alias("node")), "node", "anti"
    )
    return old_final.unionByName(
        new_final.select("node", "label")
    ).unionByName(old_single.select("node", "label"))


def write_cluster_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the indexed (doc_id % INGEST_MOD != 0) corpus's cluster
    state: per-doc band signatures under ``{path}/sigs`` and CC labels
    under ``{path}/labels`` — the state a lake would hold so arriving
    batches merge in without re-clustering (q163's streaming side)."""
    from .dedup import (
        INGEST_MOD,
        lsh_candidates,
        minhash_signatures_from_tokens,
        token_state,
    )

    tokens = token_state(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_MOD != 0
    )
    minhash_signatures_from_tokens(tokens).write.mode("overwrite").parquet(
        f"{path}/sigs"
    )
    sig_old = spark.read.parquet(f"{path}/sigs")
    cc_star_labels(lsh_candidates(sig_old)).write.mode("overwrite").parquet(
        f"{path}/labels"
    )


def cluster_update_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame
) -> DataFrame:
    """Merge one micro-batch of documents into the persisted cluster
    state and return the batch docs' cluster labels. State EVOLVES:
    the batch's signatures append to ``sigs`` and the labels table is
    rewritten through a staging dir (never read-and-overwrite in one
    lineage), so the next batch merges against the updated lake —
    bridges ACROSS batches resolve exactly
    (test_cluster_maintenance_stream_equals_full_recompute).

    Retry-safe: a replayed batch's signature rows left_anti the
    persisted table (no duplicate sigs) and the label merge is a pure
    function of (sigs ∪ batch, labels), so recomputing it lands the
    same rows. SINGLE WRITER ONLY — same contract as
    funnel_apply_batch, enforced with the same lock file on local
    paths."""
    import os
    import shutil

    from .dedup import distinct_shingles, minhash_signatures_from_tokens

    local_state = "://" not in state_dir
    lock_fd = None
    if local_state:
        lock_path = os.path.join(state_dir, "_clusters.lock")
        try:
            lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"cluster_update_batch: {lock_path} exists — another "
                "applier holds this state_dir (or a previous run died "
                "mid-batch; delete the lock after verifying none runs)"
            ) from None
    state_write_started = False  # flips before the first STATE write:
    # a failure after this point leaves half-updated state, so the
    # lock must STAY to make the "previous run died mid-batch" error
    # fire for failed batches too, not only hard process kills
    # (ADVICE r10); a failure before it (planning, staging write) is
    # harmless and releases the lock.
    try:
        sig_new = minhash_signatures_from_tokens(
            distinct_shingles(batch_df)
        ).localCheckpoint(eager=False)  # batch-bounded
        sig_old = spark.read.parquet(f"{state_dir}/sigs")
        old_labels = spark.read.parquet(f"{state_dir}/labels")
        labels_updated = incremental_cluster_labels(
            sig_old.unionByName(sig_new), sig_new, old_labels
        )
        # labels are rewritten via staging (the read-then-overwrite
        # trap); a production lake would delta-update only the
        # components the batch touched — the full rewrite is the demo
        # simplification, the MERGE MATH is the real thing
        pending = f"{state_dir}/_labels_pending"
        labels_updated.write.mode("overwrite").parquet(pending)
        state_write_started = True
        spark.read.parquet(pending).write.mode("overwrite").parquet(
            f"{state_dir}/labels"
        )
        # idempotent signature append: replays find their rows present
        sig_new.join(
            sig_old.select("doc_id").distinct(), "doc_id", "anti"
        ).write.mode("append").parquet(f"{state_dir}/sigs")
        if local_state:
            shutil.rmtree(pending, ignore_errors=True)
        batch_ids = batch_df.select(F.col("doc_id").alias("node")).distinct()
        result = spark.read.parquet(f"{state_dir}/labels").join(
            batch_ids, "node", "semi"
        )
    except BaseException:
        if lock_fd is not None:
            os.close(lock_fd)
            if not state_write_started:
                os.unlink(lock_path)
        raise
    if lock_fd is not None:
        os.close(lock_fd)
        os.unlink(lock_path)
    return result


def q163_incremental_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q58's cluster-size histogram computed INCREMENTALLY: old docs
    (doc_id % INGEST_MOD != 0, the q118/q132 deterministic split) are
    clustered first (the persisted state a lake would hold — served
    from the _incr_base_labels session memo since round 11 session 2;
    recomputing the base CC per call was the demo simplification and
    the slowest headline query, 3.8–4.9 s → ~3.0 s warm / 6.0 s cold,
    as the old benchmark recorded it, in git history), the new slice
    merges in by contraction — and the result is hash-compared against the
    full-recompute oracle, pinning exactness bridge cases included."""
    from .dedup import INGEST_MOD, band_sig_state

    # per-doc band rows from the session's persisted signature state
    # (r14 — the per-call minhash rebuild was the query's fixed cost;
    # a lake reads this table, it doesn't re-derive it per ingest)
    sig = band_sig_state(spark, sf_dir)
    is_new = F.col("doc_id") % INGEST_MOD == 0
    # old-side clusters come from the session memo (the persisted
    # base state a lake holds between ingest batches — see
    # _incr_base_labels); only the batch-side merge runs per call
    old_labels = _incr_base_labels(spark, sf_dir, sig)
    return _size_histogram(
        incremental_cluster_labels(sig, sig.filter(is_new), old_labels)
    )


def q59_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each doc's token distribution, aggregated per
    language — low-entropy documents are the repetitive/low-quality
    tail a training-data filter drops."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens("text")).alias("token"),
    )
    freqs = toks.groupBy("doc_id", "lang", "token").agg(
        F.count("*").alias("cnt")
    )
    per_doc = (
        freqs.groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(F.col("cnt") * F.log(F.col("cnt").cast("double"))).alias(
                "sum_clogc"
            ),
        )
        .select(
            "doc_id",
            "lang",
            (F.log(F.col("n").cast("double")) - F.col("sum_clogc") / F.col("n")).alias(
                "entropy"
            ),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            eround(1e-9 + F.avg("entropy"), 4).alias("avg_entropy"),
            eround(1e-9 + F.min("entropy"), 4).alias("min_entropy"),
            eround(1e-9 + F.max("entropy"), 4).alias("max_entropy"),
        )
        .orderBy("lang")
    )


# --- q117: count-min-sketch heavy hitters — the fixed-memory answer
# to "top tokens over a 100 TB corpus". The sketch is CMS_ROWS ×
# CMS_WIDTH counters (4 KiB-ish) REGARDLESS of corpus size; estimates
# are min-over-rows, so they only ever overcount (collision bias).
# Like q57's Bloom filter, the md5-derived hash family makes the
# sketch state exactly reproducible, so the DuckDB oracle verifies the
# algorithm (cells, estimates, overcounts), not just row counts.
# Scale shape: one vocab aggregation (map-side partial), a 4096-cell
# sketch aggregation, a TakeOrdered top-K, and a broadcast probe join
# — nothing grows with the corpus except the first agg's key space.
CMS_ROWS = 4
CMS_WIDTH = 1024
CMS_TOPK = 20


def _cms_bucket_sql(tok_sql: str, i: int) -> str:
    return f"({hash_u16(tok_sql, f'cms{i}')} % {CMS_WIDTH})"


def q117_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.xsql import expand_u16

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens("text")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("exact_n"))

    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    F.expr(expand_u16(_cms_bucket_sql("token", i), "spark"))
                    .cast("long")
                    .alias("b"),
                )
                for i in range(CMS_ROWS)
            ]
        )
    ).alias("rb")
    sketch = (
        counts.select("exact_n", rb)
        .select("exact_n", "rb.r", "rb.b")
        .groupBy("r", "b")
        .agg(F.sum("exact_n").alias("cell"))
    )
    top = counts.orderBy(F.desc("exact_n"), F.asc("token")).limit(CMS_TOPK)
    probe = top.select("token", "exact_n", rb).select(
        "token", "exact_n", "rb.r", "rb.b"
    )
    est = (
        sketch.join(F.broadcast(probe), ["r", "b"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.desc("exact_n"), "token")


def _cms_oracle() -> str:
    from ..functions.xsql import expand_u16

    branches = "\n          UNION ALL ".join(
        f"SELECT {i} AS r, {_cms_bucket_sql('token', i)} AS b, exact_n FROM counts"
        for i in range(CMS_ROWS)
    )
    probes = "\n          UNION ALL ".join(
        f"SELECT token, exact_n, {i} AS r, {_cms_bucket_sql('token', i)} AS b FROM top"
        for i in range(CMS_ROWS)
    )
    return expand_u16(
        f"""
        WITH toks AS (
          SELECT unnest({tokens_sql()}) AS token
          FROM documents
        ),
        counts AS (
          SELECT token, count(*) AS exact_n FROM toks GROUP BY token
        ),
        sketch AS (
          SELECT r, b, CAST(sum(exact_n) AS BIGINT) AS cell FROM (
          {branches}
          ) GROUP BY r, b
        ),
        top AS (
          SELECT token, exact_n FROM (
            SELECT token, exact_n,
                   row_number() OVER (ORDER BY exact_n DESC, token) AS rk
            FROM counts
          ) WHERE rk <= {CMS_TOPK}
        ),
        probe AS (
          {probes}
        ),
        est AS (
          SELECT p.token, p.exact_n, min(s.cell) AS cms_est
          FROM probe p JOIN sketch s ON s.r = p.r AND s.b = p.b
          GROUP BY p.token, p.exact_n
        )
        SELECT token, exact_n, cms_est, cms_est - exact_n AS overcount
        FROM est ORDER BY exact_n DESC, token
        """,
        "duckdb",
    )


# --- q202: release-funnel accounting (round 12) — the stage math of
# plans/release.py::build_release as ONE oracle-checked row, so the
# external driver gate hash-pins the numbers RELEASE.json reports
# (previously pytest-reconciled only): raw corpus → q95 dedup drop →
# q97 quality drop → benchmark holdout → curated. The strips (q155/
# q160) and redaction (q93) rewrite text but never drop documents, so
# n_curated_docs here IS the staged corpus count — asserted against a
# real build_release run in the e2e test. Scale shape: the memoized
# cluster funnel + one quality-flag scan + three 1-row aggregates crossJoined.
def q202_release_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import DECON_BENCH_SOURCE, quality_drop_expr

    docs = load_table(spark, sf_dir, "documents")
    dropped = q95_dedup_retention(spark, sf_dir).select("doc_id")
    kept1 = docs.join(dropped, "doc_id", "anti")
    flags = kept1.join(
        quality_drop_expr(kept1).select("doc_id", "qdrop"), "doc_id"
    )
    is_bench = F.col("source") == DECON_BENCH_SOURCE
    body = flags.agg(
        F.sum(F.when(F.col("qdrop"), 1).otherwise(0))
        .cast("long")
        .alias("n_quality_dropped"),
        F.sum(F.when(~F.col("qdrop") & is_bench, 1).otherwise(0))
        .cast("long")
        .alias("n_benchmark_held_out"),
        F.sum(F.when(~F.col("qdrop") & ~is_bench, 1).otherwise(0))
        .cast("long")
        .alias("n_curated_docs"),
    )
    return (
        docs.agg(F.count("*").alias("n_raw_docs"))
        .crossJoin(dropped.agg(F.count("*").alias("n_dedup_dropped")))
        .crossJoin(body)
        .select(
            "n_raw_docs",
            "n_dedup_dropped",
            "n_quality_dropped",
            "n_benchmark_held_out",
            "n_curated_docs",
        )
    )


def _release_accounting_oracle() -> str:
    from .textops import DECON_BENCH_SOURCE, quality_drop_sql

    body, final = _lp_with_body()
    return f"""
      WITH {body},
      dropped AS MATERIALIZED (
        SELECT node AS doc_id FROM {final} WHERE node != label
      ),
      flags AS (
        SELECT source,
               {quality_drop_sql(tokens_sql())} AS qdrop
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
      )
      SELECT (SELECT count(*) FROM documents) AS n_raw_docs,
             (SELECT count(*) FROM dropped) AS n_dedup_dropped,
             CAST(sum(CASE WHEN qdrop THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_dropped,
             CAST(sum(CASE WHEN NOT qdrop
                           AND source = '{DECON_BENCH_SOURCE}'
                      THEN 1 ELSE 0 END) AS BIGINT)
               AS n_benchmark_held_out,
             CAST(sum(CASE WHEN NOT qdrop
                           AND source != '{DECON_BENCH_SOURCE}'
                      THEN 1 ELSE 0 END) AS BIGINT)
               AS n_curated_docs
      FROM flags
    """


# --- q203: delta-release classification (round 13, VERDICT r12 #7) —
# the per-doc funnel behind plans/release.py::update_release, as a
# driver-gated registry row. Release N is the doc_id % DELTA_MOD != 0
# slice (a deterministic split in the q118/q163 spirit, but on a
# modulus that spans every source — see DELTA_MOD), release N+1 the
# full corpus; every doc that WOULD ship in N+1 is classified by what the
# incremental release must do with it:
#   new              — arrived in the batch; never curated
#   reprocessed_gram — old doc whose gram-level inputs changed: a
#                      boilerplate gram flipped across the df >=
#                      max(2, ceil(n_docs/20)) threshold as the corpus
#                      grew (either direction), or a gram the new
#                      benchmark docs added to the decon index
#   carried          — old doc whose curated text carries forward
# plus newly_dropped — shipped in N, retention-dropped in N+1 (the
# batch bridged its cluster to a smaller-id canonical).
# Scale shape: the signature frame and old-slice labels ride the
# session memos (one shingle pass, q163's base-state pattern); the
# batch merges in by contraction (incremental_cluster_labels — never a
# full re-cluster); the gram DEFINITIONS are index-scale aggregates of
# ONE distinct-gram explode reused for both decades' counts, the
# benchmark sets and the affected-doc flags; the flip sets broadcast
# (boundary-crossers by construction). Output: ≤4 rows.
# The oracle replays the whole funnel in SQL — TWO prefixed LP chains
# (_lp_with_body src/prefix params), both gram-count decades, the
# threshold filters, the symmetric differences and the classification
# — so the driver hash pins the delta math itself, the same contract
# q202 pins for the full-release funnel.
DELTA_MOD = 7  # q203's batch split: %7 spans every source (the
# %INGEST_MOD residues coincide with whole sources in the generated
# ids — %20==0 IS the benchmark source — which would make the 'new'
# class vacuous and the benchmark delta degenerate)


def q203_delta_release_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import band_sig_state, shingle_state
    from .textops import (
        DECON_BENCH_SOURCE,
        boilerplate_threshold_filter,
        quality_drop_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % DELTA_MOD == 0
    old_docs = docs.filter(~is_new)

    # retention, old and new. Old-slice candidate pairs are the
    # memoized FULL-corpus pairs filtered to both-old endpoints (a
    # bucket collision between two old docs cannot depend on the
    # batch), so no second LSH join; the batch merges in by
    # contraction (incremental_cluster_labels). Signatures come from
    # the session's persisted band-signature state (r14 — was a
    # per-call minhash rebuild).
    sig = band_sig_state(spark, sf_dir)
    # release N's label state rides a session memo (q163's
    # _incr_base_labels precedent — the lake holds these between
    # releases; recomputing the base CC per call is the demo
    # simplification, not the measured path)
    from pyspark import StorageLevel

    def build_old_labels():
        _, pairs = shingle_state(spark, sf_dir)
        old_pairs = pairs.filter(
            (F.col("doc_a") % DELTA_MOD != 0)
            & (F.col("doc_b") % DELTA_MOD != 0)
        )
        old_labels = cc_star_labels(old_pairs).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        old_labels.count()  # materialize before the lineage forks
        return old_labels

    old_labels = state.get_or_build(
        spark, "delta_base_labels", sf_dir, build_old_labels
    )
    labels_new = incremental_cluster_labels(
        sig, sig.filter(F.col("doc_id") % DELTA_MOD == 0), old_labels
    )
    ret_old = old_labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    ret_new = labels_new.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )

    # gram definitions at both decades off ONE aggregated count frame:
    # the explode is the corpus-linear term, so BOTH decades' dfs ride
    # one conditional aggregate (df_old = rows from old docs) and the
    # benchmark gram sets fall out of the same frame. Since r15 the
    # explode lives in the memoized posting slice (_delta_gram_posting
    # — the doc↔gram inverted index VERDICT r14 #1 ordered) and the
    # count frame DERIVES from it, so one corpus explode per session
    # serves both the counts and the per-call `affected` probe.
    grams = _delta_gram_posting(spark, sf_dir)
    # the two-decade count frame is a pure function of the corpus and
    # exactly the "evolving-state index" source_gram_counts documents
    # (update_release persists it between releases) — session-memoized
    # since r14 so repeated calls stop re-running the corpus gram
    # explode + groupBy
    def build_counts():
        cnt = (
            grams.groupBy("source", "g")
            .agg(
                F.count("*").alias("df_new"),
                F.sum(
                    F.when(F.col("doc_id") % DELTA_MOD != 0, 1).otherwise(0)
                ).alias("df_old"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)  # index-scale
        )
        cnt.count()  # materialize before the lineage forks
        return cnt

    cnt = state.get_or_build(spark, "delta_gram_counts", sf_dir, build_counts)
    nd_new = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    nd_old = old_docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    bp_new = boilerplate_threshold_filter(
        cnt.select("source", "g", F.col("df_new").alias("df")), nd_new
    )
    bp_old = boilerplate_threshold_filter(
        cnt.filter(F.col("df_old") > 0).select(
            "source", "g", F.col("df_old").alias("df")
        ),
        nd_old,
    )
    flipped = bp_new.join(bp_old, ["source", "g"], "anti").unionByName(
        bp_old.join(bp_new, ["source", "g"], "anti")
    )
    is_bench_src = F.col("source") == DECON_BENCH_SOURCE
    bench_new = cnt.filter(is_bench_src).select("g")
    bench_old = cnt.filter(is_bench_src & (F.col("df_old") > 0)).select("g")
    bench_delta = bench_new.join(bench_old, "g", "anti").unionByName(
        bench_old.join(bench_new, "g", "anti")
    )
    # ONE pass over the old-side grams: the union-of-two-joins shape
    # re-ran the corpus gram explode once per branch; two chained
    # broadcast LEFT joins + an OR filter visit the same rows once and
    # compute the identical distinct doc set (r14). Since r15 the pass
    # is a filter over the memoized posting slice — a delta-bounded
    # probe of persisted state instead of a per-call corpus explode
    # (VERDICT r14 #1); the q131/dsir "corpus frames stay
    # unmaterialized" doctrine governs per-query checkpoints, not this
    # multi-consumer session index.
    old_grams = grams.filter(F.col("doc_id") % DELTA_MOD != 0)
    affected = (
        old_grams.join(
            F.broadcast(flipped.withColumn("_f", F.lit(True))),
            ["source", "g"],
            "left",
        )
        .join(
            F.broadcast(bench_delta.withColumn("_bd", F.lit(True))),
            "g",
            "left",
        )
        .filter(F.col("_f") | F.col("_bd"))
        .select("doc_id")
        .distinct()
    )

    # ship sets at both decades (quality + holdout are per-doc stable)
    keep = quality_drop_expr(docs).filter(~F.col("qdrop")).select("doc_id")
    ship_base = docs.select("doc_id", "source", is_new.alias("is_new")).join(
        keep, "doc_id"
    ).filter(F.col("source") != DECON_BENCH_SOURCE)
    # ship_new is read twice (classed + the newly_dropped anti-join)
    # and its lineage carries ret_new = the whole incremental
    # clustering — checkpoint so the contraction runs once per call,
    # not once per consumer branch (the q205 finding applied here)
    ship_new = ship_base.join(ret_new, "doc_id", "anti").localCheckpoint(
        eager=False
    )
    ship_old = ship_base.filter(~F.col("is_new")).join(
        ret_old, "doc_id", "anti"
    )
    classed = ship_new.join(
        affected.withColumn("aff", F.lit(True)), "doc_id", "left"
    ).select(
        F.when(F.col("is_new"), "new")
        .when(F.col("aff"), "reprocessed_gram")
        .otherwise("carried")
        .alias("status")
    ).unionByName(
        ship_old.join(ship_new.select("doc_id"), "doc_id", "anti").select(
            F.lit("newly_dropped").alias("status")
        )
    )
    return (
        classed.groupBy("status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("status")
    )


def _delta_release_oracle() -> str:
    from .textops import DECON_BENCH_SOURCE, DECON_N, quality_drop_sql

    mod = DELTA_MOD
    body_old, final_old = _lp_with_body(
        src=f"(SELECT * FROM documents WHERE doc_id % {mod} != 0)",
        prefix="o_",
    )
    body_new, final_new = _lp_with_body(prefix="f_")
    thr = "greatest(2, CAST(floor((n.n_docs + 19) / 20.0) AS BIGINT))"
    return f"""
      WITH {body_old},
      {body_new},
      ret_old AS MATERIALIZED (
        SELECT node AS doc_id FROM {final_old} WHERE node != label
      ),
      ret_new AS MATERIALIZED (
        SELECT node AS doc_id FROM {final_new} WHERE node != label
      ),
      base AS MATERIALIZED (
        SELECT doc_id, source, {tokens_sql()} AS arr FROM documents
      ),
      grams AS MATERIALIZED (
        SELECT DISTINCT doc_id, source,
               unnest({word_ngrams_sql('arr', DECON_N)}) AS g
        FROM base WHERE len(arr) >= {DECON_N}
      ),
      nd_new AS (SELECT source, count(*) AS n_docs FROM documents
                 GROUP BY source),
      nd_old AS (SELECT source, count(*) AS n_docs FROM documents
                 WHERE doc_id % {mod} != 0 GROUP BY source),
      cnt_new AS (SELECT source, g, count(*) AS df FROM grams
                  GROUP BY source, g),
      cnt_old AS (SELECT source, g, count(*) AS df FROM grams
                  WHERE doc_id % {mod} != 0 GROUP BY source, g),
      bp_new AS MATERIALIZED (
        SELECT c.source, c.g FROM cnt_new c JOIN nd_new n USING (source)
        WHERE c.df >= {thr}
      ),
      bp_old AS MATERIALIZED (
        SELECT c.source, c.g FROM cnt_old c JOIN nd_old n USING (source)
        WHERE c.df >= {thr}
      ),
      flipped AS MATERIALIZED (
        (SELECT source, g FROM bp_new EXCEPT SELECT source, g FROM bp_old)
        UNION
        (SELECT source, g FROM bp_old EXCEPT SELECT source, g FROM bp_new)
      ),
      bench_new AS (SELECT DISTINCT g FROM grams
                    WHERE source = '{DECON_BENCH_SOURCE}'),
      bench_old AS (SELECT DISTINCT g FROM grams
                    WHERE source = '{DECON_BENCH_SOURCE}'
                      AND doc_id % {mod} != 0),
      bench_delta AS MATERIALIZED (
        (SELECT g FROM bench_new EXCEPT SELECT g FROM bench_old)
        UNION
        (SELECT g FROM bench_old EXCEPT SELECT g FROM bench_new)
      ),
      aff AS MATERIALIZED (
        SELECT DISTINCT gr.doc_id
        FROM grams gr JOIN flipped f
          ON f.source = gr.source AND f.g = gr.g
        WHERE gr.doc_id % {mod} != 0
        UNION
        SELECT DISTINCT gr.doc_id
        FROM grams gr JOIN bench_delta b ON b.g = gr.g
        WHERE gr.doc_id % {mod} != 0
      ),
      qkeep AS (
        SELECT doc_id FROM base
        WHERE NOT {quality_drop_sql('arr')}
      ),
      ship_new AS MATERIALIZED (
        SELECT d.doc_id, (d.doc_id % {mod} = 0) AS is_new
        FROM documents d
        WHERE d.source != '{DECON_BENCH_SOURCE}'
          AND d.doc_id IN (SELECT doc_id FROM qkeep)
          AND d.doc_id NOT IN (SELECT doc_id FROM ret_new)
      ),
      ship_old AS (
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id % {mod} != 0
          AND d.source != '{DECON_BENCH_SOURCE}'
          AND d.doc_id IN (SELECT doc_id FROM qkeep)
          AND d.doc_id NOT IN (SELECT doc_id FROM ret_old)
      ),
      classed AS (
        SELECT CASE WHEN is_new THEN 'new'
                    WHEN doc_id IN (SELECT doc_id FROM aff)
                      THEN 'reprocessed_gram'
                    ELSE 'carried' END AS status
        FROM ship_new
        UNION ALL
        SELECT 'newly_dropped' AS status FROM ship_old
        WHERE doc_id NOT IN (SELECT doc_id FROM ship_new)
      )
      SELECT status, count(*) AS n_docs
      FROM classed GROUP BY status ORDER BY status
    """


# --- q200: mergeable relative-error quantile sketch (round 12) — the
# approx partner of q79's fixed-width hist index, completing the
# sketch tier next to Bloom (q57) / CMS (q117) / HLL (q25). Shape is
# the log-bucket histogram of the DDSketch paper (Masson, Rim, Lee,
# VLDB 2019 — "DDSketch: a fast and fully-mergeable quantile sketch
# with relative-error guarantees"): bucket(x) = ceil(ln(x)/ln(γ)) with
# γ = (1+α)/(1−α), so every value in bucket i lies within relative
# distance α of the bucket midpoint 2γ^i/(γ+1). The sketch is the
# (bucket, n) count table — ADDITIVE, hence mergeable across
# partitions, batches and streams for free (the same property q79's
# hist index and the BM25/IVF evolving-state paths ride), and its size
# is bounded by the VALUE RANGE, not the row count: ln(max/min)/α
# buckets (~330 for the o_totalprice domain at α = 1%).
#
# Guarantee (why within_bound is an invariant, not a hope): the k-th
# smallest value x_k lies in the first bucket whose cumulative count
# reaches k (bucketing is monotone), and every value in that bucket is
# within α of the midpoint estimate — so |est/x_k − 1| ≤ α BY
# CONSTRUCTION. The oracle recomputes the whole sketch in SQL, so the
# hash match pins the estimate itself, not just the bound (stronger
# than q25's HLL contract, where the sketch state is engine-specific).
#
# Exact-verification arm (the audit column): the sketch itself says
# which bucket holds rank k, so the exact order statistic needs a sort
# of ONLY that bucket's members (a 2α-wide value band) — never a
# global sort. The per-bucket row_number window is partition-bounded;
# a point-mass distribution could still concentrate a bucket, which is
# why the audit arm is optional at scale (the α bound holds without
# it). Driver-side state: the ≤ln(max/min)/α-row histogram and 3 exact
# scalars — both bounded-by-construction collects (ranking.py's class).
#
# Determinism: ln(x)/ln(γ) is rounded to 9dp before ceil on BOTH
# engines, absorbing libm last-ulp differences at bucket boundaries
# (the eround discipline applied to a bucketing key).
DDS_ALPHA = 0.01
_DDS_GAMMA = (1 + DDS_ALPHA) / (1 - DDS_ALPHA)
_DDS_QUANTILES = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def dds_bucket(col: str):
    """The log-bucket index expression (Spark side)."""
    import math

    return F.ceil(
        F.round(F.log(F.col(col)) / F.lit(math.log(_DDS_GAMMA)), 9)
    ).cast("long")


def dds_hist(df: DataFrame, value_col: str = "o_totalprice") -> DataFrame:
    """(bucket, n) log-bucket histogram partial — additive: the sketch
    of a union is the bucket-wise sum of the sketches (pinned by
    test_dds_hist_mergeable)."""
    return (
        df.filter(F.col(value_col) > 0)
        .groupBy(dds_bucket(value_col).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def _dds_read(hist: list) -> tuple[int, list]:
    """Sketch read side over a SORTED (bucket, n) list: total count and
    [(label, k, bucket, cum_prev, est)] per target quantile — shared by
    the batch query (which adds the exact arm) and the streaming twin's
    sink reader (dds_quantiles_from_sink, estimate-only: the raw values
    are gone by read time, which is the point of a sketch)."""
    n = sum(c for _, c in hist)
    g = _DDS_GAMMA
    picks = []
    for label, num, den in _DDS_QUANTILES:
        k = (n * num + den - 1) // den  # ceil(q·n), exact integers
        cum = 0
        for b, c in hist:
            if cum + c >= k:
                picks.append((label, k, b, cum, 2 * g**b / (g + 1)))
                break
            cum += c
    return n, picks


def dds_order_statistics(df: DataFrame, value_col: str, ranks) -> dict:
    """Exact k-th order statistics (1-based ranks over ascending
    ``value_col``) WITHOUT a global sort: the DDSketch histogram says
    which log-bucket holds each rank, so only the picked buckets (a
    2α-wide value band each) are ranked — the per-bucket row_number
    window is partition-bounded, never a single global partition.

    Requires all values > 0 (the log-bucket domain); callers guard.
    Returns {rank: value}. Driver-side state: the ≤ln(max/min)/α-row
    histogram + len(ranks) scalars, both bounded by construction.
    Shared by q200's audit arm and q201's exact arm (VERDICT r12 #5:
    this replaced q201's full-sort ``percentile()`` aggregate)."""
    from pyspark.sql import Window

    hist = sorted((r.bucket, r.n) for r in dds_hist(df, value_col).collect())
    want = {}  # (bucket, local_rank) -> [ranks]
    cum = 0
    it = iter(sorted(set(int(k) for k in ranks)))
    k = next(it, None)
    for b, c in hist:
        while k is not None and cum + c >= k:
            want.setdefault((b, k - cum), []).append(k)
            k = next(it, None)
        cum += c
    if k is not None:
        raise ValueError(f"rank {k} exceeds row count {cum}")
    cand = (
        df.filter(F.col(value_col) > 0)
        .select(
            F.col(value_col).alias("x"), dds_bucket(value_col).alias("bucket")
        )
        .filter(F.col("bucket").isin([b for b, _ in want]))
    )
    picked = cand.withColumn(
        "lr", F.row_number().over(Window.partitionBy("bucket").orderBy("x"))
    ).filter(
        F.struct("bucket", "lr").isin(
            [
                F.struct(F.lit(b).cast("long"), F.lit(lr).cast("int"))
                for b, lr in want
            ]
        )
    )
    out = {}
    for r in picked.collect():  # ≤ len(ranks) rows
        for k in want[(r.bucket, r.lr)]:
            out[k] = r.x
    return out


def dds_quantiles_from_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """q200's estimates from a sink of additive per-batch sketch
    partials — the streaming twin's read side (bucket-wise re-sum, then
    the shared _dds_read): (quantile, n, bucket, est). Equal to the
    batch q200's first four columns whenever the sink drained the same
    rows (test_dds_sketch_stream_equals_batch)."""
    parts = spark.read.parquet(sink_dir)
    hist = sorted(
        (r.bucket, r.n)
        for r in parts.groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    )
    n, picks = _dds_read(hist)
    return spark.createDataFrame(
        sorted(
            (label, n, b, round(1e-9 + est, 4))
            for label, _k, b, _cp, est in picks
        ),
        "quantile string, n long, bucket long, est double",
    )


def q200_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hist = sorted(
        (r.bucket, r.n) for r in dds_hist(orders).collect()
    )  # bounded: ≤ ln(max/min)/α buckets
    n, picks = _dds_read(hist)
    # exact arm: rank only the picked buckets' members
    from pyspark.sql import Window

    want = {(b, k - cum_prev) for _, k, b, cum_prev, _e in picks}
    cand = orders.filter(F.col("o_totalprice") > 0).select(
        F.col("o_totalprice").alias("x"), dds_bucket("o_totalprice").alias("bucket")
    ).filter(F.col("bucket").isin([b for b, _ in want]))
    ranked = cand.withColumn(
        "lr", F.row_number().over(Window.partitionBy("bucket").orderBy("x"))
    ).filter(
        F.struct("bucket", "lr").isin(
            [
                F.struct(
                    F.lit(b).cast("long"), F.lit(lr).cast("int")
                )
                for b, lr in want
            ]
        )
    )
    exact = {(r.bucket, r.lr): r.x for r in ranked.collect()}  # ≤3 rows
    rows = []
    for label, k, b, cum_prev, est in picks:
        ex = exact[(b, k - cum_prev)]
        rows.append(
            (
                label,
                n,
                b,
                round(1e-9 + est, 4),
                # same 1e-9 nudge convention as est (ADVICE r12):
                # o_totalprice is 2dp by construction today, but a
                # >2dp value column would hit the banker's-rounding
                # vs half-away-from-zero knife edge without it
                round(1e-9 + ex, 2),
                abs(est / ex - 1) <= DDS_ALPHA + 1e-9,
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "quantile string, n long, bucket long, est double, exact double,"
        " within_bound boolean",
    )


# --- q204: token-WEIGHTED length quantiles on the q200 sketch
# (round 13, VERDICT r12 #9 — landed because it has a real consumer:
# the cutoffs that split a corpus into equal TOKEN budgets are what
# q112's packing and q174's context-length sweep reason about, and
# doc-COUNT percentiles get them wrong whenever length and mass
# correlate, i.e. always). Same additive log-bucket state as q200
# with sum(weight) per bucket instead of count — mergeability and the
# α relative-error bound carry over verbatim (the k-th weighted order
# statistic lives in the first bucket whose cumulative WEIGHT reaches
# k, and every member is within α of the midpoint). Weights are
# integer token counts, so k = ceil(q·W) stays exact integer
# arithmetic — no float knife edge. The exact arm sorts only the
# picked buckets and takes the first weighted-cumsum crossing (ties
# share the same x, so the crossing value is permutation-proof). The
# oracle recomputes the whole weighted sketch in SQL — the hash pins
# the estimate itself, q200's contract.
def dds_hist_weighted(
    df: DataFrame, value_col: str, weight_col: str
) -> DataFrame:
    """(bucket, n) log-bucket histogram with n = sum(weight) — the
    weighted q200 partial; additive over disjoint doc sets like
    dds_hist (same groupBy-sum merge)."""
    return (
        df.filter(F.col(value_col) > 0)
        .groupBy(dds_bucket(value_col).alias("bucket"))
        .agg(F.sum(weight_col).alias("n"))
    )


def dds_weighted_quantiles_from_sink(
    spark: SparkSession, sink_dir: str
) -> DataFrame:
    """q204's estimates from a sink of additive per-batch WEIGHTED
    sketch partials — the packing monitor's read side (VERDICT r13
    stretch #9): token-budget cutoffs over an ARRIVING corpus, so the
    q112 packer can size bins while ingest runs. Bucket-wise re-sum,
    then the shared _dds_read over sum(weight) counts:
    (quantile, total_tokens, bucket, est) — equal to the batch q204's
    estimate columns whenever the sink drained the same docs
    (test_token_budget_sketch_stream_equals_batch)."""
    parts = spark.read.parquet(sink_dir)
    hist = sorted(
        (r.bucket, r.n)
        for r in parts.groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    )
    total, picks = _dds_read(hist)
    return spark.createDataFrame(
        sorted(
            (label, total, b, round(1e-9 + est, 4))
            for label, _k, b, _cp, est in picks
        ),
        "quantile string, total_tokens long, bucket long, est double",
    )


def q204_weighted_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(F.size(tokens(F.col("text"))).alias("x"))
    hist = sorted(
        (r.bucket, r.n)
        for r in dds_hist_weighted(
            per_doc.withColumn("w", F.col("x")), "x", "w"
        ).collect()
    )  # bounded: ≤ ln(max/min)/α buckets
    total, picks = _dds_read(hist)
    # exact arm: weighted-cumsum crossing inside the picked buckets,
    # keyed (bucket, local_k) like q200/dds_order_statistics — two
    # quantiles that land in the SAME log-bucket carry different local
    # weighted ranks, and a bucket-keyed dict would keep only the last
    # crossing (ADVICE r13). The crossing is a range test (cw-w, cw]
    # ∋ lk rather than an equality, so one heavy row can cross several
    # local ranks at once: probe every (bucket, lk) pair via a ≤3-wide
    # exploded literal array instead of a per-bucket map.
    want = {(b, k - cum_prev) for _, k, b, cum_prev, _e in picks}
    cand = (
        per_doc.filter(F.col("x") > 0)
        .select("x", dds_bucket("x").alias("bucket"))
        .filter(F.col("bucket").isin(sorted({b for b, _ in want})))
    )
    cum = cand.withColumn(
        "cw",
        F.sum("x").over(
            Window.partitionBy("bucket")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).cast("long").alias("b"),
                    F.lit(int(lk)).cast("long").alias("lk"),
                )
                for b, lk in sorted(want)
            ]
        )
    )
    crossing = (
        cum.select("bucket", "x", "cw", pairs.alias("p"))
        .filter(
            (F.col("p.b") == F.col("bucket"))
            & (F.col("cw") >= F.col("p.lk"))
            & (F.col("cw") - F.col("x") < F.col("p.lk"))
        )
        .select("bucket", F.col("p.lk").alias("lk"), "x")
    )
    exact = {(r.bucket, r.lk): r.x for r in crossing.collect()}  # ≤3 rows
    rows = []
    for label, k, b, cum_prev, est in picks:
        ex = exact[(b, k - cum_prev)]
        rows.append(
            (
                label,
                total,
                b,
                round(1e-9 + est, 4),
                int(ex),  # token counts are integers — no rounding edge
                abs(est / ex - 1) <= DDS_ALPHA + 1e-9,
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "quantile string, total_tokens long, bucket long, est double,"
        " exact long, within_bound boolean",
    )


def _q204_oracle() -> str:
    import math

    lng = repr(math.log(_DDS_GAMMA))
    g = repr(_DDS_GAMMA)
    qrows = ", ".join(
        f"('{L}', {num}, {den})" for L, num, den in _DDS_QUANTILES
    )
    return f"""
      WITH bvals AS MATERIALIZED (
        SELECT x, x AS w,
               CAST(ceil(round(ln(x) / {lng}, 9)) AS BIGINT) AS bucket
        FROM (
          SELECT len({tokens_sql()}) AS x
          FROM documents
        ) WHERE x > 0
      ),
      hist AS MATERIALIZED (
        SELECT bucket, sum(w) AS n FROM bvals GROUP BY bucket
      ),
      cum AS MATERIALIZED (
        SELECT bucket, n, sum(n) OVER (ORDER BY bucket) AS cum FROM hist
      ),
      tot AS (SELECT sum(n) AS n FROM hist),
      qs(label, num, den) AS (VALUES {qrows}),
      ks AS (
        SELECT q.label, t.n,
               CAST(floor((t.n * q.num + q.den - 1) / q.den) AS BIGINT) AS k
        FROM qs q, tot t
      ),
      pick AS (
        SELECT ks.label, ks.n, ks.k, min(c.bucket) AS bucket
        FROM ks JOIN cum c ON c.cum >= ks.k
        GROUP BY ks.label, ks.n, ks.k
      ),
      prev AS (
        SELECT p.*,
               coalesce((SELECT max(c2.cum) FROM cum c2
                         WHERE c2.bucket < p.bucket), 0) AS cum_prev
        FROM pick p
      ),
      wcum AS MATERIALIZED (
        SELECT x, bucket,
               sum(w) OVER (PARTITION BY bucket ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS cw,
               w
        FROM bvals WHERE bucket IN (SELECT bucket FROM prev)
      )
      SELECT p.label AS quantile,
             CAST(p.n AS BIGINT) AS total_tokens,
             p.bucket,
             round(1e-9 + 2 * pow({g}, p.bucket) / ({g} + 1.0), 4) AS est,
             CAST(r.x AS BIGINT) AS exact,
             (abs((2 * pow({g}, p.bucket) / ({g} + 1.0)) / r.x - 1)
              <= {DDS_ALPHA!r} + 1e-9) AS within_bound
      FROM prev p
      JOIN wcum r ON r.bucket = p.bucket
                 AND r.cw >= p.k - p.cum_prev
                 AND r.cw - r.w < p.k - p.cum_prev
      ORDER BY quantile
    """


def _q200_oracle() -> str:
    import math

    lng = repr(math.log(_DDS_GAMMA))
    g = repr(_DDS_GAMMA)
    qrows = ", ".join(f"('{L}', {num}, {den})" for L, num, den in _DDS_QUANTILES)
    return f"""
      WITH bvals AS MATERIALIZED (
        SELECT o_totalprice AS x,
               CAST(ceil(round(ln(o_totalprice) / {lng}, 9)) AS BIGINT)
                 AS bucket
        FROM orders WHERE o_totalprice > 0
      ),
      hist AS MATERIALIZED (
        SELECT bucket, count(*) AS n FROM bvals GROUP BY bucket
      ),
      cum AS MATERIALIZED (
        SELECT bucket, n, sum(n) OVER (ORDER BY bucket) AS cum FROM hist
      ),
      tot AS (SELECT sum(n) AS n FROM hist),
      qs(label, num, den) AS (VALUES {qrows}),
      ks AS (
        SELECT q.label, t.n,
               CAST(floor((t.n * q.num + q.den - 1) / q.den) AS BIGINT) AS k
        FROM qs q, tot t
      ),
      pick AS (
        SELECT ks.label, ks.n, ks.k, min(c.bucket) AS bucket
        FROM ks JOIN cum c ON c.cum >= ks.k
        GROUP BY ks.label, ks.n, ks.k
      ),
      prev AS (
        SELECT p.*,
               coalesce((SELECT max(c2.cum) FROM cum c2
                         WHERE c2.bucket < p.bucket), 0) AS cum_prev
        FROM pick p
      ),
      ranked AS MATERIALIZED (
        SELECT x, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY x) AS lr
        FROM bvals WHERE bucket IN (SELECT bucket FROM prev)
      )
      SELECT p.label AS quantile,
             CAST(p.n AS BIGINT) AS n,
             p.bucket,
             round(1e-9 + 2 * pow({g}, p.bucket) / ({g} + 1.0), 4) AS est,
             round(1e-9 + r.x, 2) AS exact,
             (abs((2 * pow({g}, p.bucket) / ({g} + 1.0)) / r.x - 1)
              <= {DDS_ALPHA!r} + 1e-9) AS within_bound
      FROM prev p
      JOIN ranked r ON r.bucket = p.bucket AND r.lr = p.k - p.cum_prev
      ORDER BY quantile
    """


# --- q205: edit-path relabel scope (round 14, VERDICT r13 #5) — the
# component-local relabel behind plans/release.py::update_release's
# edit/removal path, as a driver-gated registry row. The previous
# corpus is simulated with q188's deterministic snapshot convention
# (u16(doc_id, "snap") % 20: ==0 absent-from-prev/added, ==1 text
# changed, ==2 contributes a prev-only tombstone row that reads as
# removed — and whose text is an identical COPY of the live doc, so
# every tombstone forms a guaranteed prev 2-cluster whose live member
# is a SURVIVOR: the class is non-vacuous by construction). Every
# clustered doc of the CURRENT corpus is classified by what the
# component-local merge did to reach its label:
#   batch     — added/changed doc: fresh signature, re-paired
#   survivor  — unchanged member of a DISSOLVED component (one that
#               contained a changed/removed doc): re-paired with its
#               persisted signature
#   carried   — member of an untouched component: label carried
#               forward (possibly re-pointed by a batch-side merge)
# plus one 'dissolved' row: survivors whose re-pairing found nothing
# (their old cluster existed only through the dirty doc).
# node_sum/label_sum pin the actual label ASSIGNMENT, not just counts.
# Scale shape: prev base labels ride a session memo (cc_star over the
# prev pair graph — the lake holds these between releases); the
# current labels come from ONE contraction over batch∪survivor
# signatures against the carried signature frame — never a full
# re-cluster; survivors/dirty sets are delta-bounded broadcasts.
# The oracle replays BOTH decades from scratch — two prefixed LP
# chains (q203's _lp_with_body mechanism) over the sim corpus and the
# live corpus — so the driver hash pins the central update_release
# equivalence claim itself: component-local == from-scratch.
def _edit_prev_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized (sig_prev, labels_prev) of the simulated previous
    corpus — the persisted state release N would hold."""
    return state.get_or_build(
        spark, "edit_prev_state", sf_dir, lambda: _build_edit_prev(spark, sf_dir)
    )


def _build_edit_prev(spark: SparkSession, sf_dir: str):
    from pyspark import StorageLevel

    from .dedup import (
        distinct_shingles,
        lsh_candidates,
        minhash_signatures_from_tokens,
    )
    from .textops import _prev_snapshot_sim

    # fan-out (token_state's gotcha): a small corpus is ONE parquet
    # split and the sim+shingle explode would run single-core
    docs = fan_out_scan(spark, load_table(spark, sf_dir, "documents"))
    prev = _prev_snapshot_sim(docs)
    sig_prev = minhash_signatures_from_tokens(distinct_shingles(prev)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    labels_prev = cc_star_labels(lsh_candidates(sig_prev)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    labels_prev.count()  # materialize before the lineage forks
    return sig_prev, labels_prev


def q205_edit_relabel_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import band_sig_state
    from .textops import SNAPSHOT_MOD
    from ..functions.xsql import expand_u16, hash_u16

    docs = load_table(spark, sf_dir, "documents")
    b = expand_u16(hash_u16("CAST(doc_id AS STRING)", "snap"), "spark")
    # (doc_id, _b) feeds six downstream id sets — checkpoint the
    # narrow tag frame so the per-doc u16 hash scan runs once (r14)
    tagged = docs.selectExpr(
        "doc_id", f"{b} % {SNAPSHOT_MOD} AS _b"
    ).localCheckpoint(eager=False)
    added = tagged.filter(F.col("_b") == 0).select("doc_id")
    changed = tagged.filter(F.col("_b") == 1).select("doc_id")
    removed = tagged.filter(F.col("_b") == 2).select(
        (-(F.col("doc_id") + 1)).alias("doc_id")
    )  # the prev-only tombstone identities

    sig_prev, labels_prev = _edit_prev_state(spark, sf_dir)
    dirty = changed.unionByName(removed).select(F.col("doc_id").alias("node"))
    dirty_lbls = (
        labels_prev.join(F.broadcast(dirty), "node", "semi")
        .select("label")
        .distinct()
    )
    base = labels_prev.join(F.broadcast(dirty_lbls), "label", "anti")
    survivors = (
        labels_prev.join(F.broadcast(dirty_lbls), "label", "semi")
        .join(F.broadcast(dirty), "node", "anti")
        .select(F.col("node").alias("doc_id"))
        # three consumers (sig_batch, classed, dissolved) — delta-
        # bounded frame, materialize once instead of three times
        .localCheckpoint(eager=False)
    )
    gone = changed.unionByName(removed)
    sig_carry = sig_prev.join(F.broadcast(gone), "doc_id", "anti")
    # delta signatures: minhash is per-doc, so the CURRENT corpus's
    # persisted band-signature state filtered to the delta ids IS the
    # delta's signature frame — no per-call shingle/minima rebuild
    # (r14; was minhash_signatures_from_tokens over a token semi-join)
    sig_delta = band_sig_state(spark, sf_dir).join(
        F.broadcast(added.unionByName(changed)), "doc_id", "semi"
    )
    sig_all = sig_carry.unionByName(sig_delta)
    sig_batch = sig_carry.join(
        F.broadcast(survivors), "doc_id", "semi"
    ).unionByName(sig_delta)
    # classed AND dissolved both read labels_new: without the
    # checkpoint the contraction's un-checkpointed join lineage ran
    # once per branch inside the single output action (r14 A/B at
    # sf0.1, identical results: 4.39 s -> 0.41 s min-of-3 — the
    # round's largest single-query win). Narrow (node, label) rows,
    # so the materialization is cheap by construction.
    labels_new = incremental_cluster_labels(
        sig_all, sig_batch, base
    ).localCheckpoint(eager=False)

    batch_ids = added.unionByName(changed)
    classed = (
        labels_new.join(
            batch_ids.select(
                F.col("doc_id").alias("node"), F.lit(True).alias("is_b")
            ),
            "node",
            "left",
        )
        .join(
            survivors.select(
                F.col("doc_id").alias("node"), F.lit(True).alias("is_s")
            ),
            "node",
            "left",
        )
        .select(
            F.when(F.col("is_b"), "batch")
            .when(F.col("is_s"), "survivor")
            .otherwise("carried")
            .alias("status"),
            "node",
            "label",
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("node").alias("node_sum"),
            F.sum("label").alias("label_sum"),
        )
    )
    dissolved = (
        survivors.join(
            labels_new.select(F.col("node").alias("doc_id")), "doc_id", "anti"
        )
        .agg(
            F.lit("dissolved").alias("status"),
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("node_sum"),
            F.lit(0).cast("long").alias("label_sum"),
        )
        .select("status", "n_docs", "node_sum", "label_sum")
    )
    return classed.unionByName(dissolved).orderBy("status")


def _edit_relabel_oracle() -> str:
    from ..functions.xsql import expand_u16, hash_u16
    from .textops import SNAPSHOT_MOD

    b = expand_u16(hash_u16("CAST(doc_id AS STRING)", "snap"), "duckdb")
    body_prev, final_prev = _lp_with_body(src="prev_docs", prefix="p_")
    body_cur, final_cur = _lp_with_body(prefix="c_")
    return f"""
      WITH kept_sim AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN {b} % {SNAPSHOT_MOD} = 1
                    THEN regexp_replace(text, '^\\S+\\s', '')
                    ELSE text END AS text,
               {b} % {SNAPSHOT_MOD} AS _b
        FROM documents
        WHERE {b} % {SNAPSHOT_MOD} <> 0
      ),
      prev_docs AS MATERIALIZED (
        SELECT doc_id, text FROM kept_sim
        UNION ALL
        SELECT -(doc_id + 1) AS doc_id, text FROM kept_sim WHERE _b = 2
      ),
      {body_prev},
      {body_cur},
      cls AS MATERIALIZED (
        SELECT doc_id, {b} % {SNAPSHOT_MOD} AS _b FROM documents
      ),
      batch AS (
        SELECT doc_id FROM cls WHERE _b IN (0, 1)
      ),
      dirty AS (
        SELECT doc_id AS node FROM cls WHERE _b = 1
        UNION ALL
        SELECT -(doc_id + 1) AS node FROM cls WHERE _b = 2
      ),
      dirty_lbls AS MATERIALIZED (
        SELECT DISTINCT label FROM {final_prev}
        WHERE node IN (SELECT node FROM dirty)
      ),
      survivors AS MATERIALIZED (
        SELECT node FROM {final_prev}
        WHERE label IN (SELECT label FROM dirty_lbls)
          AND node NOT IN (SELECT node FROM dirty)
      ),
      classed AS (
        SELECT CASE WHEN node IN (SELECT doc_id FROM batch) THEN 'batch'
                    WHEN node IN (SELECT node FROM survivors)
                      THEN 'survivor'
                    ELSE 'carried' END AS status,
               node, label
        FROM {final_cur}
      )
      SELECT status,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(node) AS BIGINT) AS node_sum,
             CAST(sum(label) AS BIGINT) AS label_sum
      FROM classed GROUP BY status
      UNION ALL
      SELECT 'dissolved' AS status,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(node), 0) AS BIGINT) AS node_sum,
             CAST(0 AS BIGINT) AS label_sum
      FROM survivors
      WHERE node NOT IN (SELECT node FROM {final_cur})
      ORDER BY status
    """


QUERIES = {
    "q57_bloom_membership": q57_bloom_membership,
    "q117_cms_heavy_hitters": q117_cms_heavy_hitters,
    "q200_quantile_sketch": q200_quantile_sketch,
    "q202_release_accounting": q202_release_accounting,
    "q203_delta_release_classes": q203_delta_release_classes,
    "q204_weighted_length_quantiles": q204_weighted_length_quantiles,
    "q205_edit_relabel_scope": q205_edit_relabel_scope,
    "q58_dup_clusters": q58_dup_clusters,
    "q59_token_entropy": q59_token_entropy,
    "q95_dedup_retention": q95_dedup_retention,
    "q101_deduped_corpus": q101_deduped_corpus,
    "q176_dedup_roi": q176_dedup_roi,
    "q192_stage_overlap": q192_stage_overlap,
    "q195_cluster_chaining": q195_cluster_chaining,
    "q144_cluster_representatives": q144_cluster_representatives,
    "q145_cluster_aware_split": q145_cluster_aware_split,
    "q103_lp_convergence": q103_lp_convergence,
    "q139_cc_star_clusters": q139_cc_star_clusters,
    "q163_incremental_clusters": q163_incremental_clusters,
}


def _oracles() -> dict[str, str]:
    from ..functions.xsql import expand_u16

    return {
        "q57_bloom_membership": expand_u16(_BLOOM_SQL, "duckdb"),
        "q117_cms_heavy_hitters": _cms_oracle(),
        "q200_quantile_sketch": _q200_oracle(),
        "q202_release_accounting": _release_accounting_oracle(),
        "q203_delta_release_classes": _delta_release_oracle(),
        "q204_weighted_length_quantiles": _q204_oracle(),
        "q205_edit_relabel_scope": _edit_relabel_oracle(),
        "q58_dup_clusters": _dup_clusters_oracle(),
        # q139 is q58 under its registry name: same labels, same oracle
        "q139_cc_star_clusters": _dup_clusters_oracle(),
        # the incremental path provably equals the full re-cluster
        # (contraction preserves components; signatures are per-doc),
        # so the FULL-RECOMPUTE SQL is exactly the oracle that pins
        # the incremental algorithm's correctness, bridges included
        "q163_incremental_clusters": _dup_clusters_oracle(),
        "q95_dedup_retention": _dedup_retention_oracle(),
        "q101_deduped_corpus": _deduped_corpus_oracle(),
        "q176_dedup_roi": _dedup_roi_oracle(),
        "q192_stage_overlap": _stage_overlap_oracle(),
        "q195_cluster_chaining": _cluster_chaining_oracle(),
        "q144_cluster_representatives": _cluster_representatives_oracle(),
        "q145_cluster_aware_split": _cluster_aware_split_oracle(),
        "q103_lp_convergence": _lp_convergence_oracle(),
        "q59_token_entropy": f"""
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest({tokens_sql()}) AS token
              FROM documents
            ),
            freqs AS (
              SELECT doc_id, lang, token, count(*) AS cnt
              FROM toks GROUP BY doc_id, lang, token
            ),
            per_doc AS (
              SELECT doc_id, lang,
                     ln(CAST(sum(cnt) AS DOUBLE))
                       - sum(cnt * ln(CAST(cnt AS DOUBLE))) / sum(cnt) AS entropy
              FROM freqs GROUP BY doc_id, lang
            )
            SELECT lang, count(*) AS n_docs,
                   round(1e-9 + avg(entropy), 4) AS avg_entropy,
                   round(1e-9 + min(entropy), 4) AS min_entropy,
                   round(1e-9 + max(entropy), 4) AS max_entropy
            FROM per_doc GROUP BY lang ORDER BY lang
        """,
    }


ORACLES = _oracles()
