"""Flagship query: SIT validation scan over the documents corpus.

Re-expresses the reference's validator (modules/validator.py:235-360,
SURVEY.md §3.3) Spark-first: instead of a per-row Python loop with
per-(doc,sit) ``re.finditer``, the scan is a union of codegen'd
``regexp_extract_all`` branches (one per catalog pattern — literal
patterns keep the regex compiled once inside whole-stage codegen),
followed by a higher-order ``filter`` dropping placeholder matches
(modules/validator.py:147-194) and ONE hash aggregation by sit_id.

Scale shape: narrow scan → map-side regex → partial agg → 12-group
final agg. No join, no skew; the only shuffle carries ≤ |catalog| rows
per upstream partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.catalog import SIT_PATTERNS, is_placeholder, is_placeholder_duckdb
from ..functions.grams import tokens, tokens_sql
from ..sources.tables import load_table


# Per-pattern cheap pre-guards (VERDICT r7 Next #5): every catalog
# regex has a MANDATORY character class — a doc lacking it cannot
# match, so the (expensive) regexp_extract_all is gated behind a
# codegen'd byte test evaluated once per doc. Hand-derived from each
# pattern and validated by test_sitscan's guard-implied-by-match test:
# default "digit" (every pattern with a mandatory \d{..} run), plus
# the three exceptions below. Semantics are identical by construction
# (guard false ⇒ zero matches ⇒ same empty array).
_GUARD_KIND = {
    "SIT_EMAIL": "at",        # mandatory literal '@' (digits optional)
    "SIT_AZURE_SAS": "sig",   # mandatory literal 'sig='
    "SIT_SWIFT": "upper",     # all-letter codes match; digits optional
}


def _guard_cols():
    """The four guard booleans, computed once per doc as columns."""
    text = F.col("text")

    def lacks(chars: str):
        return F.length(F.translate(text, chars, "")) < F.length(text)

    return {
        "digit": lacks("0123456789").alias("_g_digit"),
        "at": (F.instr(text, "@") > 0).alias("_g_at"),
        "sig": (F.instr(text, "sig=") > 0).alias("_g_sig"),
        "upper": lacks("ABCDEFGHIJKLMNOPQRSTUVWXYZ").alias("_g_upper"),
    }


def sit_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SIT match statistics over ``documents`` (the flagship)."""
    return sit_scan_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _sit_matches() -> Column:
    """``m``: one (sit_id, matches) struct per scanned pattern, its
    ``regexp_extract_all`` behind the pattern's guard column, exploded
    to one row per pattern. The frame must carry ``text`` and the
    :func:`_guard_cols`."""
    empty = F.array().cast("array<string>")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(sit_id).alias("sit_id"),
                    F.when(
                        F.col(f"_g_{_GUARD_KIND.get(sit_id, 'digit')}"),
                        F.regexp_extract_all("text", F.lit(p.pattern), 0),
                    ).otherwise(empty).alias("matches"),
                )
                for sit_id, p in SIT_PATTERNS.items()
            ]
        )
    ).alias("m")


def _sit_matches_sql(cols: str) -> str:
    """DuckDB twin of :func:`_sit_matches`: one ``UNION ALL`` branch per
    scanned pattern, each row ``(sit_id, <cols>, matches)``."""
    branches = []
    for sit_id, p in SIT_PATTERNS.items():
        pat = p.pattern.replace("'", "''")
        branches.append(
            f"SELECT '{sit_id}' AS sit_id, {cols}, "
            f"regexp_extract_all(text, '{pat}') AS matches FROM documents"
        )
    return " UNION ALL ".join(branches)


def sit_scan_frame(docs: DataFrame) -> DataFrame:
    """The flagship scan over any (doc_id, text) frame.

    ONE scan: all catalog patterns evaluate in a single projection as an
    array of (sit_id, n_all, n_real) structs, then explode. The earlier
    union-of-branches formulation re-read the parquet once per pattern —
    12x the scan bytes, which is exactly what kills a 100TB corpus pass.
    Each pattern is pre-guarded by its mandatory-character test (above),
    so a doc with no digits skips all 31 digit-anchored regexes.

    Plan-size note: the placeholder predicate is a large expression
    tree; inlining it inside every pattern's lambda made CATALYST
    PLANNING (analysis + codegen of 34 copies) cost more than the scan
    itself (~2.5 s/run at sf0.1). The match arrays are exploded FIRST
    and the predicate applied ONCE to the (sit_id, matches) rows.
    """
    docs = docs.select("doc_id", "text", *_guard_cols().values())
    return (
        docs.select("doc_id", _sit_matches())
        .select(
            "doc_id",
            "m.sit_id",
            F.size("m.matches").alias("n_all"),
            F.size(
                F.filter("m.matches", lambda m: ~is_placeholder(m))
            ).alias("n_real"),
        )
        .groupBy("sit_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_all") > 0, 1).otherwise(0)).alias("docs_with_match"),
            F.sum("n_all").alias("total_matches"),
            F.sum("n_real").alias("real_matches"),
        )
        .orderBy("sit_id")
    )


def _sit_scan_oracle() -> str:
    """DuckDB oracle generated from the same catalog constant."""
    ph = is_placeholder_duckdb("x")
    return f"""
        WITH m AS ({_sit_matches_sql("doc_id")}),
        f AS (
          SELECT sit_id, doc_id,
                 len(matches) AS n_all,
                 len(list_filter(matches, x -> NOT {ph})) AS n_real
          FROM m
        )
        SELECT sit_id,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN n_all > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_match,
               CAST(sum(n_all) AS BIGINT) AS total_matches,
               CAST(sum(n_real) AS BIGINT) AS real_matches
        FROM f GROUP BY sit_id ORDER BY sit_id
    """


# --- match-detail helpers shared with the generated-corpus issue list
# (operators/generation.py q91). The position is 0-based like Python's
# m.start(); the excerpt is text[max(0, start-30) : min(len, end+30)]
# with newlines flattened (modules/validator.py:279-299), expressed
# 1-based for SQL substr. Identical text works on Spark and DuckDB —
# both have instr/substr/greatest/least/replace/chr.
POSITION_EXCERPT_EXPRS = [
    "CAST(instr(text, match) - 1 AS BIGINT) AS start",
    "replace(substr(text, greatest(1, instr(text, match) - 30), "
    "least(length(text), instr(text, match) - 1 + length(match) + 30) "
    "- greatest(0, instr(text, match) - 31)), chr(10), ' ') AS excerpt",
]


def cap_issues(
    matched: DataFrame,
    per_sit: int = 5,
    global_cap: int = 500,
    order_cols: tuple[str, ...] = ("doc_id", "match"),
) -> DataFrame:
    """Apply the validator's display caps (validator.py:210-233 per-SIT
    samples, validator.py:351-352 global cap) deterministically: top
    ``per_sit`` rows per SIT by ``order_cols``, then a sorted global
    limit. ``order_cols`` must make rows unique within a SIT. The window
    shuffle carries only short issue rows (never document text); the
    global cap is TakeOrderedAndProject over ≤ per_sit·|catalog| rows —
    no global sort."""
    w = Window.partitionBy("sit_id").orderBy(*order_cols)
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_sit)
        .drop("rn")
        .orderBy("sit_id", *order_cols)
        .limit(global_cap)
    )


def _combined_sit_pattern() -> str:
    """All scanned catalog patterns as one alternation, catalog order.
    Both Java regex and RE2 resolve alternation leftmost-first, so the
    catalog-order priority of the sequential chain is preserved for
    matches starting at the same position."""
    return "|".join(f"(?:{p.pattern})" for p in SIT_PATTERNS.values())


def _classify_token(m):
    """Map a matched token to its ``[SIT_ID]`` tag: full-match tests in
    catalog order over the SHORT extracted token — same winner as the
    sequential chain when a token is in two SITs' languages."""
    expr = None
    for sit_id, p in SIT_PATTERNS.items():
        cond = m.rlike(f"^(?:{p.pattern})$")
        tag = F.lit(f"[{sit_id}]")
        expr = F.when(cond, tag) if expr is None else expr.when(cond, tag)
    return expr.otherwise(m)


def redact_df(docs: DataFrame) -> DataFrame:
    """Single-ALTERNATION PII scrub over a (doc_id, text) relation:
    every catalog-pattern match replaced with its ``[SIT_ID]`` tag.
    One combined alternation drives ``split`` (unmatched segments) plus
    ``regexp_extract_all`` (matched tokens); each short token is then
    classified to its tag by catalog-order full-match tests and the
    document is stitched back with ``zip_with``.

    MEASURED SLOWER than :func:`redact_chain_df` on Spark — sf0.1
    documents (match-free): 4.4s vs 1.7s; 6,360 generated match-dense
    docs: 130s vs 38s — because ``java.util.regex`` is a backtracking
    engine: a 34-way alternation pays ~the sum of all alternatives'
    first-char/backtrack work at EVERY text position (twice here:
    split + extract), while the chain's 34 sequential scans each
    early-out cheaply and ``replaceAll`` returns the original string
    untouched when a pattern has no match. The single-form pays off
    only on DFA engines (RE2-style) where alternation compiles to one
    automaton. Kept as the q99 driver query so the round's correctness
    gate cross-proves it against the DuckDB CHAIN oracle on
    match-bearing text; q93 (the hot path) uses the chain.

    Equivalent to the chain when no two patterns' matches overlap
    mid-span and no replacement manufactures a ``\\b`` that enables a
    later pattern — both engineered into the catalog (disjointness
    invariant, plans/catalog.py) and pinned empirically:
    ``tests/test_sitscan.py`` asserts chain == single-pass per document
    on both the documents table and the generated corpus.

    Output carries (n_redactions, md5) instead of the scrubbed text so
    the correctness gate hashes small rows; the full text is one
    ``.select`` away. Scale shape: ONE scan, narrow per-row map — no
    shuffle, no join.
    """
    combined = _combined_sit_pattern()
    matches = F.regexp_extract_all("text", F.lit(combined), 0)
    # split keeps trailing empty segments (limit=-1), so |segs| is
    # always |matches| + 1; pad tags with one '' for zip_with.
    segs = F.split("text", combined)
    tags = F.concat(F.transform(matches, _classify_token), F.array(F.lit("")))
    redacted = F.concat_ws(
        "",
        F.zip_with(
            segs, tags, lambda s, t: F.concat(s, F.coalesce(t, F.lit("")))
        ),
    )
    return docs.select(
        "doc_id",
        F.size(matches).cast("long").alias("n_redactions"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


def redacted_frame(docs: DataFrame) -> DataFrame:
    """``docs`` plus a ``_red`` column holding the scrubbed text — the
    shared core of q93's chain (which hashes it) and the release
    pipeline's PII stage (which SHIPS it). Digit-guard corpus split +
    catalog-order ``regexp_replace`` chain; see :func:`redact_chain_df`
    for why this shape wins on Spark's regex engine."""

    def chain(frame: DataFrame, only_non_digit: bool) -> DataFrame:
        col = F.col("text")
        for sit_id, p in SIT_PATTERNS.items():
            if only_non_digit and _GUARD_KIND.get(sit_id, "digit") == "digit":
                continue
            col = F.regexp_replace(col, F.lit(p.pattern), F.lit(f"[{sit_id}]"))
        return frame.withColumn("_red", col)

    has_digit = (
        F.length(F.translate("text", "0123456789", "")) < F.length("text")
    )
    return chain(docs.filter(has_digit), only_non_digit=False).unionByName(
        chain(docs.filter(~has_digit), only_non_digit=True)
    )


def redact_chain_df(docs: DataFrame) -> DataFrame:
    """The literal catalog-order ``regexp_replace`` chain — the FASTER
    shape on Spark's backtracking regex engine (see :func:`redact_df`
    for the measured comparison and why). 34 narrow passes, each a
    cheap early-out scan with zero rewrite on match-free rows; still
    one parquet scan, no shuffle, no join — the per-pass cost is CPU
    over in-memory strings, not extra I/O.

    The corpus is SPLIT on the digit guard (one cheap translate test
    per doc, evaluated at the scan): docs with no digit run only the
    three patterns whose mandatory class isn't a digit (email / SAS
    token / SWIFT), everything else runs the full chain. Digit-anchored
    patterns are identity on digit-free text, so the union is
    byte-identical to the plain chain — and on corpora where most docs
    carry no digits (this one: all of them) 31 of 34 regex passes
    never run. (A per-pass when(guard, replace(col)).otherwise(col)
    chain is NOT an option: referencing col twice per level doubles
    the expression tree 34 times.)"""
    both = redacted_frame(docs)
    col = F.col("_red")
    n_red = (
        (F.length(col) - F.length(F.replace(col, F.lit("[SIT_"), F.lit(""))))
        / F.lit(5)
    ).cast("long")
    return both.select(
        "doc_id",
        n_red.alias("n_redactions"),
        F.md5(col.cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


def redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q93: the PII scrub over the ``documents`` table, chain form
    (measured fastest on Spark — see :func:`redact_df`)."""
    return redact_chain_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _redact_oracle() -> str:
    """DuckDB twin: same replace chain in the same order ('g' flag —
    DuckDB's regexp_replace is first-match-only by default, Spark's is
    global)."""
    col = "text"
    for sit_id, p in SIT_PATTERNS.items():
        pat = p.pattern.replace("'", "''")
        col = f"regexp_replace({col}, '{pat}', '[{sit_id}]', 'g')"
    return f"""
        SELECT doc_id,
               CAST((length({col}) - length(replace({col}, '[SIT_', ''))) / 5
                    AS BIGINT) AS n_redactions,
               md5({col}) AS redacted_md5
        FROM documents ORDER BY doc_id
    """


# --- q167: PII density by source (round 11) — the per-feed exposure
# RATE a privacy review reads before licensing a source into a
# training mix: real (non-placeholder) SIT matches per 10k whitespace
# tokens, per source. q90 counts per PATTERN across the corpus and
# q93 applies the scrub; this is the normalized per-SOURCE rate the
# go/no-go decision uses. Same single-scan struct-array shape as the
# flagship (guards + one explode, the placeholder predicate applied
# once post-explode — the plan-size lesson in sit_scan_frame's
# docstring), then a per-doc re-agg and a |sources|-key report join;
# nothing downstream of the scan exceeds |sources| rows.
def q167_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import eround

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", *_guard_cols().values()
    )
    per_doc = (
        docs.select("doc_id", "source", _sit_matches())
        .select(
            "doc_id",
            "source",
            F.size(
                F.filter("m.matches", lambda m: ~is_placeholder(m))
            ).alias("n_real"),
        )
        .groupBy("source", "doc_id")
        .agg(F.sum("n_real").alias("n_real"))
        .groupBy("source")
        .agg(
            F.sum("n_real").alias("pii_matches"),
            F.sum(F.when(F.col("n_real") > 0, 1).otherwise(0)).alias(
                "docs_with_pii"
            ),
        )
    )
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(tokens(F.col("text"))).alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    return (
        toks.join(per_doc, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "docs_with_pii",
            "pii_matches",
            eround(
                F.col("pii_matches") * 10000.0 / F.col("n_tokens"), 4
            ).alias("pii_per_10k_tokens"),
        )
        .orderBy("source")
    )


def _pii_density_oracle() -> str:
    ph = is_placeholder_duckdb("x")
    return f"""
        WITH m AS ({_sit_matches_sql("doc_id, source")}),
        per_doc AS (
          SELECT source, doc_id,
                 sum(len(list_filter(matches, x -> NOT {ph}))) AS n_real
          FROM m GROUP BY source, doc_id
        ),
        pii AS (
          SELECT source,
                 CAST(sum(n_real) AS BIGINT) AS pii_matches,
                 CAST(sum(CASE WHEN n_real > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS docs_with_pii
          FROM per_doc GROUP BY source
        ),
        toks AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len({tokens_sql()})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        )
        SELECT t.source, t.n_docs, t.n_tokens, p.docs_with_pii,
               p.pii_matches,
               round(p.pii_matches * 10000.0 / t.n_tokens, 4)
                 AS pii_per_10k_tokens
        FROM toks t JOIN pii p USING (source)
        ORDER BY source
    """


QUERIES = {
    "q90_flagship_sit_scan": sit_match_counts,
    "q93_redact_documents": redact_documents,
    "q167_pii_density": q167_pii_density,
}

ORACLES = {
    "q90_flagship_sit_scan": _sit_scan_oracle(),
    "q93_redact_documents": _redact_oracle(),
    "q167_pii_density": _pii_density_oracle(),
}
