"""The full reference pipeline end-to-end through the engine:
generate corpus → render binary formats → write partitioned parquet →
binaryFile-style read-back → extract text → regex validation — the
loop modules/meta_generator → content_generator → postprocessor →
validator perform via files on disk (SURVEY.md §1.3), here as Spark
stages. Asserts the validation golden SURVIVES the binary round trip:
every TP satisfied, no FP flagged, on text recovered from the
renditions rather than the original strings.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from synthetic_data_pipeline_spark.functions.xsql import expand_u16
from synthetic_data_pipeline_spark.operators.generation import (
    _DIALECTS,
    _gen_ctes,
    _rendered_cte,
)
from synthetic_data_pipeline_spark.plans.catalog import SIT_PATTERNS, real_matches
from synthetic_data_pipeline_spark.plans.generate import GenConfig
from synthetic_data_pipeline_spark.sources.io import write_partitioned_parquet
from synthetic_data_pipeline_spark.sources.renditions import (
    add_renditions,
    extract_docx_text,
    extract_eml_text,
    extract_pdf_text,
)


def test_generate_render_extract_validate_loop(spark, tmp_path):
    cfg = GenConfig(per_sit_count=10)  # 40 docs — small but full-shape
    d = _DIALECTS["spark"]
    rendered = spark.sql(
        expand_u16(
            f"WITH {_gen_ctes(cfg, d)}, {_rendered_cte(d)} "
            "SELECT doc_id, format, text FROM rendered",
            "spark",
        )
    )
    with_bins = add_renditions(rendered)
    out = str(tmp_path / "corpus")
    write_partitioned_parquet(
        with_bins, out, partition_cols=["format"], max_records_per_file=50
    )

    back = spark.read.parquet(out)
    assert back.count() == cfg.n_docs

    # recover text from the best-available rendition (the validator's
    # fallback chain, P6): eml → docx → pdf → original text
    rows = back.collect()
    recovered = {}
    for r in rows:
        if r.eml is not None:
            recovered[r.doc_id] = extract_eml_text(bytes(r.eml))
        elif r.docx is not None:
            recovered[r.doc_id] = extract_docx_text(bytes(r.docx))
        elif r.pdf is not None:
            recovered[r.doc_id] = extract_pdf_text(bytes(r.pdf))
        else:
            recovered[r.doc_id] = r.text

    # per (doc, sit) expectations from the generation metadata
    vals = spark.sql(
        expand_u16(
            f"WITH {_gen_ctes(cfg, d)} "
            "SELECT doc_id, sit_id, label, instances FROM vals",
            "spark",
        )
    ).collect()
    # TC SITs carry an empty regex — generated but never scanned, the
    # validator's skip of uncompilable patterns.
    n_tp = n_fp = 0
    for v in vals:
        if v.sit_id not in SIT_PATTERNS:
            continue
        real = real_matches(v.sit_id, recovered[v.doc_id])
        if v.label == "TP":
            n_tp += 1
            assert len(real) >= v.instances, (
                f"doc {v.doc_id} {v.sit_id}: {len(real)} < {v.instances} "
                "after binary round trip"
            )
        else:
            n_fp += 1
            assert not real, f"doc {v.doc_id} {v.sit_id}: FP flagged after round trip"
    assert n_tp > 30 and n_fp > 30


def test_build_release_end_to_end(spark, sf_dir, tmp_path):
    """The one-call release pipeline: every stage's accounting must
    reconcile with the individually-verified queries it composes, and
    every artifact must land."""
    import json
    import os

    from synthetic_data_pipeline_spark.operators.sketches import (
        q95_dedup_retention,
    )
    from synthetic_data_pipeline_spark.operators.textops import (
        quality_drop_expr,
    )
    from synthetic_data_pipeline_spark.plans.release import build_release
    from synthetic_data_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "release")
    s = build_release(spark, sf_dir, out)

    docs = load_table(spark, sf_dir, "documents")
    assert s["n_raw_docs"] == docs.count()
    # stage 1 reconciles with q95's retention list
    dropped = {r.doc_id for r in q95_dedup_retention(spark, sf_dir).collect()}
    assert s["n_dedup_dropped"] == len(dropped)
    # stage 2 reconciles with q97's drop flag on the post-dedup frame
    from pyspark.sql import functions as F

    kept1 = docs.filter(~F.col("doc_id").isin(dropped)) if dropped else docs
    n_q = quality_drop_expr(kept1).filter(F.col("qdrop")).count()
    assert s["n_quality_dropped"] == n_q
    # stage 3 holds out the entire benchmark source from the release
    assert s["n_benchmark_held_out"] > 0
    assert (
        s["n_curated_docs"]
        == s["n_raw_docs"] - s["n_dedup_dropped"] - s["n_quality_dropped"]
        - s["n_benchmark_held_out"]
    )
    assert sum(s["split_counts"].values()) == s["n_curated_docs"]
    assert s["n_shards"] >= 1

    # artifacts on disk
    for d in (
        "retention", "bench_grams", "labels", "corpus", "training",
        "manifest", "cards",
    ):
        assert os.path.isdir(os.path.join(out, d)), d
    assert json.load(open(f"{out}/RELEASE.json")) == s
    # the staged corpus is sf_dir-shaped: load_table reads it back
    staged = load_table(spark, out + "/corpus", "documents")
    assert staged.count() == s["n_curated_docs"]
    # manifest rows == curated docs (the q188 diff base)
    assert (
        spark.read.parquet(f"{out}/manifest").count() == s["n_curated_docs"]
    )
    # one card per surviving source
    srcs = {r.source for r in staged.select("source").distinct().collect()}
    assert sorted(os.listdir(f"{out}/cards")) == sorted(
        f"{x}.md" for x in srcs
    )
    # the benchmark source never ships
    from synthetic_data_pipeline_spark.operators.textops import (
        DECON_BENCH_SOURCE,
        distinct_ngrams,
    )

    assert DECON_BENCH_SOURCE not in srcs

    # PUBLISHABILITY GATES (VERDICT r11 #2):
    # (a) zero q105-detectable contamination: no staged doc shares a
    #     word 4-gram with the persisted benchmark gram index
    bench = spark.read.parquet(f"{out}/bench_grams")
    n_contam = (
        distinct_ngrams(staged).join(bench.select("g"), "g").count()
    )
    assert n_contam == 0
    # (b) zero real SIT matches survive: the q93 scrub is idempotent
    #     on the staged text — a second pass changes nothing
    from synthetic_data_pipeline_spark.operators.sitscan import (
        redacted_frame,
    )

    assert (
        redacted_frame(staged).filter(F.col("_red") != F.col("text")).count()
        == 0
    )
    assert s["n_pii_redactions"] >= 0
    # (c) cluster-aware split: no near-dup cluster straddles a split
    #     boundary (vacuously safe post-retention — one member per
    #     cluster survives — but the gkey mechanism keeps it true
    #     under ANY retention policy; mechanism pinned non-vacuously
    #     by test_cluster_aware_split_no_straddling on the full corpus)
    labels = spark.read.parquet(f"{out}/labels")
    straddle = (
        staged.join(labels.withColumnRenamed("node", "doc_id"), "doc_id")
        .groupBy("label")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert straddle == 0
    # boilerplate/decon accounting: a touched doc loses at least one
    # full 4-gram span's worth of tokens
    assert s["n_boilerplate_tokens_removed"] >= 4 * s["n_boilerplate_docs_touched"]
    assert s["n_decon_tokens_removed"] >= 4 * s["n_decon_docs_touched"]
    # q202 is the same funnel as a driver-gated registry row: its
    # single row must equal what build_release just reported
    from synthetic_data_pipeline_spark.operators.sketches import (
        q202_release_accounting,
    )

    acct = q202_release_accounting(spark, sf_dir).collect()[0]
    for k in (
        "n_raw_docs", "n_dedup_dropped", "n_quality_dropped",
        "n_benchmark_held_out", "n_curated_docs",
    ):
        assert getattr(acct, k) == s[k], (k, getattr(acct, k), s[k])


def test_release_reproducible_and_diffable(spark, sf_dir, tmp_path):
    """The versioned-release user story: building the SAME corpus twice
    yields byte-identical accounting, and diffing release N+1's staged
    corpus against release N's persisted manifest (the q188 production
    path) reads all-unchanged. A nondeterminism regression anywhere in
    the pipeline (a rand() slipping into a stage, an unstable keeper
    rule) breaks release reproducibility and fails here."""
    from synthetic_data_pipeline_spark.operators.textops import (
        diff_vs_manifest,
    )
    from synthetic_data_pipeline_spark.plans.release import build_release
    from synthetic_data_pipeline_spark.sources.tables import load_table

    s1 = build_release(spark, sf_dir, str(tmp_path / "v1"))
    s2 = build_release(spark, sf_dir, str(tmp_path / "v2"))
    assert s1 == s2
    staged2 = load_table(spark, str(tmp_path / "v2" / "corpus"), "documents")
    rows = diff_vs_manifest(
        spark, staged2, str(tmp_path / "v1" / "manifest")
    ).collect()
    assert rows and all(
        (r.n_added, r.n_removed, r.n_changed) == (0, 0, 0)
        and r.n_unchanged > 0
        for r in rows
    )


def test_release_gates_on_planted_adversarial_corpus(spark, tmp_path):
    """The publishability gates exercised NON-vacuously: a corpus
    planted with a near-dup pair, a quality failure, live PII and a
    benchmark-contaminated doc must come out of build_release with the
    dup dropped, the junk dropped, the PII redacted to [SIT_*] tokens
    and the contaminated 4-gram stripped — with exact accounting.
    (On the generated testdata the PII gate is vacuous — documents.text
    carries no real SIT matches — so this is the test that would catch
    a broken redaction stage.)"""
    import json

    from synthetic_data_pipeline_spark.plans.release import build_release
    from synthetic_data_pipeline_spark.sources.tables import load_table

    def words(seed: str, n: int) -> str:
        return " ".join(f"{seed}{i}tok" for i in range(n))

    gram = "zebra quantum lattice harbor"
    rows = [
        # benchmark source (src0): held out, defines the decon grams
        (0, f"{words('bench', 26)} {gram}", "en", "src0"),
        (1, words("suite", 30), "en", "src0"),
        # near-dup pair ACROSS sources (within-source would also trip
        # the boilerplate df>=2 threshold — deliberately avoided here)
        (2, words("story", 30) + " ending one", "en", "src1"),
        (3, words("story", 30) + " ending two", "en", "src2"),
        # quality failure: 30 tokens, 1 distinct -> low_diversity
        (4, " ".join(["aa"] * 30), "en", "src1"),
        # live PII that must not ship
        (5, f"{words('memo', 26)} ssn 523-45-6789 mail bob.kay@nordwind-mail.net", "en", "src2"),
        # benchmark-contaminated train doc
        (6, f"{words('news', 26)} {gram} {words('tail', 3)}", "en", "src1"),
        # clean background
        (7, words("alpha", 30), "en", "src1"),
        (8, words("beta", 30), "en", "src2"),
    ]
    df = spark.createDataFrame(
        [(i, t, la, so, len(t)) for i, t, la, so in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = str(tmp_path / "corpus_in")
    df.repartition(2).write.parquet(f"{src}/documents.parquet")

    out = str(tmp_path / "release")
    s = build_release(spark, src, out)

    assert s["n_raw_docs"] == 9
    assert s["n_dedup_dropped"] == 1       # doc 3 (keeper = min id 2)
    assert s["n_quality_dropped"] == 1     # doc 4
    assert s["n_benchmark_held_out"] == 2  # docs 0-1
    assert s["n_curated_docs"] == 5        # docs 2, 5, 6, 7, 8
    assert s["n_decon_docs_touched"] >= 1
    assert s["n_pii_redactions"] >= 2      # the SSN + the email

    staged = {
        r.doc_id: r.text
        for r in load_table(spark, out + "/corpus", "documents").collect()
    }
    assert set(staged) == {2, 5, 6, 7, 8}
    # PII redacted to catalog tokens, raw values gone
    assert "[SIT_SSN]" in staged[5] and "[SIT_EMAIL]" in staged[5]
    assert "523-45-6789" not in staged[5]
    assert "nordwind-mail.net" not in staged[5]
    # the contaminated 4-gram is stripped from the shipped text
    assert gram not in staged[6] and "news0tok" in staged[6]
    # accounting on disk matches the return value
    assert json.load(open(f"{out}/RELEASE.json")) == s


def _delta_base_rows():
    """Base corpus for the incremental-release tests. Every doc uses
    distinct generated tokens so no 4-gram repeats within a source by
    accident; the planted structures are exactly the delta classes
    update_release must handle."""

    def words(seed: str, n: int) -> str:
        return " ".join(f"{seed}{i}tok" for i in range(n))

    gram = "zebra quantum lattice harbor"
    return words, gram, [
        # benchmark source (src0): held out, defines the decon grams
        (0, f"{words('bench', 26)} {gram}", "en", "src0"),
        (1, words("suite", 30), "en", "src0"),
        # near-dup cluster 1 across sources (3 dropped, 2 canonical)
        (2, words("story", 30) + " ending one", "en", "src1"),
        (3, words("story", 30) + " ending two", "en", "src2"),
        # quality failure
        (4, " ".join(["aa"] * 30), "en", "src1"),
        # live PII, redacted in the base release
        (5, f"{words('memo', 26)} ssn 523-45-6789 mail bob.kay@nordwind-mail.net", "en", "src2"),
        # benchmark-contaminated doc, stripped in the base release
        (6, f"{words('news', 26)} {gram} {words('tail', 3)}", "en", "src1"),
        # carries a gram that a FUTURE doc pushes over the boilerplate
        # threshold (df 1 -> 2 in src1)
        (7, f"{words('alpha', 26)} omega delta pulse rune", "en", "src1"),
        # carries a gram a FUTURE benchmark doc adds to the decon index
        (8, f"{words('beta', 26)} harbor neon cactus drift", "en", "src2"),
        # near-dup cluster 2 (10 dropped, 9 canonical) — a future
        # bridge doc merges it into cluster 1
        (9, words("poem", 30) + " closing one", "en", "src1"),
        (10, words("poem", 30) + " closing two", "en", "src2"),
    ]


def _write_corpus(spark, rows, path):
    df = spark.createDataFrame(
        [(i, t, la, so, len(t)) for i, t, la, so in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.repartition(2).write.parquet(f"{path}/documents.parquet")


def _staged_rows(spark, out):
    from synthetic_data_pipeline_spark.sources.tables import load_table

    return {
        r.doc_id: (r.text, r.lang, r.source, r.n_chars, r.split)
        for r in load_table(spark, out + "/corpus", "documents").collect()
    }


def test_update_release_equals_full(spark, tmp_path):
    """The delta-release contract (VERDICT r12 #7): update_release on a
    grown corpus produces EXACTLY the staged corpus, splits and totals
    of build_release run from scratch — while rewriting only the docs
    whose curation inputs changed. Exercises every append-only delta
    class non-vacuously: plain new doc, new near-dup (dropped), a
    BRIDGE doc merging two old clusters (an old canonical becomes
    newly-dropped), a boilerplate-threshold flip re-cleaning an old
    doc, and a benchmark addition re-decontaminating an old doc."""
    import json

    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    s1 = build_release(spark, base_dir, out1)
    assert set(_staged_rows(spark, out1)) == {2, 5, 6, 7, 8, 9}

    grown = base + [
        # bridge: contains both dup clusters' full token+tail runs —
        # in its OWN source so the duplicated runs don't ALSO flip
        # within-source boilerplate thresholds (they would in src2:
        # df=2 for every story/poem gram). Tail order matters: the
        # 8-hash minhash is deterministic, and this arrangement is the
        # one that LSH-collides with BOTH clusters (story-first
        # variants only hit the poem side)
        (20, words("poem", 30) + " closing one " + words("story", 30)
         + " ending one", "en", "src3"),
        # pushes 'omega delta pulse rune' to df=2 in src1
        (21, f"{words('gamma', 26)} omega delta pulse rune", "en", "src1"),
        # new benchmark doc: adds 'harbor neon cactus drift' to decon
        (22, f"{words('quiz', 26)} harbor neon cactus drift", "en", "src0"),
        # plain new clean doc
        (23, words("nova", 30), "en", "src1"),
    ]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, grown, grown_dir)

    full_out = str(tmp_path / "rel_v2_full")
    sf = build_release(spark, grown_dir, full_out)
    delta_out = str(tmp_path / "rel_v2_delta")
    sd = update_release(spark, out1, grown_dir, delta_out)

    # the shipped product is identical, doc for doc, split included
    assert _staged_rows(spark, delta_out) == _staged_rows(spark, full_out)
    for k in ("n_raw_docs", "n_dedup_dropped", "n_curated_docs",
              "split_counts", "n_shards"):
        assert sd[k] == sf[k], (k, sd[k], sf[k])

    # delta accounting: exactly the planted classes
    assert sd["append_only"] is True
    assert sd["n_added"] == 4 and sd["n_changed"] == 0 == sd["n_removed"]
    # the bridge merged {2,3} and {9,10}: old canonical 9 is newly
    # dropped (label moves to 2), as is the bridge doc itself; the new
    # benchmark doc 22 also minhash-collides with doc 8 (a real 8-hash
    # LSH false positive — the funnel has no verify stage by design,
    # q95's contract) and drops with canonical 8
    assert sd["n_newly_dropped"] == 3 and sd["n_newly_kept"] == 0
    assert sd["n_flipped_boilerplate_grams"] == 1
    # every 4-gram of the new benchmark doc joins the decon index;
    # only 'harbor neon cactus drift' occurs in an old doc
    assert sd["n_changed_bench_grams"] >= 1
    assert sd["n_gram_affected_docs"] == 2  # docs 7 and 8
    # reprocessed = the 4 new docs + 2 affected, minus the dropped
    # bridge and the held-out benchmark doc; everything else carried
    assert sd["n_reprocessed_docs"] == 4
    assert sd["n_carried_docs"] == 3  # docs 2, 5, 6
    assert sd["n_curated_docs"] == 7
    # partition-selective staging: some partitions rewritten, the rest
    # carried as directory copies, and together they hold the corpus
    assert 1 <= sd["n_partitions_rewritten"] < sd["n_partitions"]
    assert sd["n_partitions_copied"] >= 1

    staged = {k: v[0] for k, v in _staged_rows(spark, delta_out).items()}
    # the flipped gram is stripped from BOTH its carriers
    assert "omega delta pulse rune" not in staged[7]
    assert "omega delta pulse rune" not in staged[21]
    assert "alpha0tok" in staged[7] and "gamma0tok" in staged[21]
    # the added benchmark gram is stripped from the old doc
    assert "harbor neon cactus drift" not in staged[8]
    assert "beta0tok" in staged[8]
    # carried docs kept their curated text verbatim (PII still gone)
    prev = {k: v[0] for k, v in _staged_rows(spark, out1).items()}
    for d in (2, 5, 6):
        assert staged[d] == prev[d]
    # accounting on disk matches the return value
    assert json.load(open(f"{delta_out}/RELEASE.json")) == sd
    assert s1["n_curated_docs"] == 6


def test_update_release_handles_changes_and_removals(spark, tmp_path):
    """Doc edits and removals break the monotone cluster merge, so
    update_release dissolves and re-derives exactly those components
    (component-local since r14) — the REWRITES stay incremental and
    the staged corpus still equals the from-scratch rebuild. Removing
    a dropped dup also exercises newly_kept: its canonical partner's
    cluster dissolves."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)

    changed = []
    for (i, t, la, so) in base:
        if i == 3:
            continue  # removed: the dropped dup of doc 2
        if i == 7:
            t = t + " appended tail words"  # changed in place
        changed.append((i, t, la, so))
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, changed, grown_dir)

    full_out = str(tmp_path / "rel_v2_full")
    sf = build_release(spark, grown_dir, full_out)
    delta_out = str(tmp_path / "rel_v2_delta")
    sd = update_release(spark, out1, grown_dir, delta_out)

    assert sd["append_only"] is False
    assert sd["n_added"] == 0
    assert sd["n_changed"] == 1 and sd["n_removed"] == 1
    assert _staged_rows(spark, delta_out) == _staged_rows(spark, full_out)
    for k in ("n_raw_docs", "n_dedup_dropped", "n_curated_docs",
              "split_counts", "n_shards"):
        assert sd[k] == sf[k], (k, sd[k], sf[k])
    staged = {k: v[0] for k, v in _staged_rows(spark, delta_out).items()}
    assert "appended tail words" in staged[7]


def test_update_release_edit_splits_only_its_component(spark, tmp_path):
    """VERDICT r13 #5: the edit path relabels COMPONENT-LOCALLY. Doc
    10's text is replaced wholesale, dissolving near-dup cluster
    {9, 10}: both docs ship (doc 10 via newly_kept + changed), the
    staged corpus equals the from-scratch rebuild, the UNTOUCHED
    cluster {2, 3}'s label rows carry forward byte-identically from
    release N's labels table, and the reprocess set is exactly the
    edited doc — the old whole-corpus relabel is gone."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)
    old_lbl = {
        r.node: r.label
        for r in spark.read.parquet(f"{out1}/labels").collect()
    }
    assert old_lbl[10] == old_lbl[9] and old_lbl[3] == old_lbl[2]

    edited = [
        (i, words("fresh", 30) if i == 10 else t, la, so)
        for (i, t, la, so) in base
    ]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, edited, grown_dir)

    full_out = str(tmp_path / "rel_v2_full")
    sf = build_release(spark, grown_dir, full_out)
    delta_out = str(tmp_path / "rel_v2_delta")
    sd = update_release(spark, out1, grown_dir, delta_out)

    assert sd["append_only"] is False
    assert sd["n_changed"] == 1 and sd["n_removed"] == 0
    assert sd["n_newly_kept"] == 1  # doc 10 left the retention list
    assert sd["n_reprocessed_docs"] == 1  # ONLY the edited doc
    assert _staged_rows(spark, delta_out) == _staged_rows(spark, full_out)
    assert {9, 10} <= set(_staged_rows(spark, delta_out))
    for k in ("n_raw_docs", "n_curated_docs", "split_counts", "n_shards"):
        assert sd[k] == sf[k], (k, sd[k], sf[k])

    new_lbl = {
        r.node: r.label
        for r in spark.read.parquet(f"{delta_out}/labels").collect()
    }
    # the dirty component dissolved; the untouched one carried forward
    assert 9 not in new_lbl and 10 not in new_lbl
    assert {n: l for n, l in new_lbl.items() if n in (2, 3)} == {
        n: l for n, l in old_lbl.items() if n in (2, 3)
    }
    # and it matches the from-scratch labels exactly
    full_lbl = {
        r.node: r.label
        for r in spark.read.parquet(f"{full_out}/labels").collect()
    }
    assert new_lbl == full_lbl


def test_update_release_metadata_only_edit(spark, tmp_path):
    """ADVICE r13 regression: a doc whose SOURCE changes with text
    unchanged must classify as 'changed' — source drives the benchmark
    holdout, the per-source boilerplate threshold and the bench gram
    index, so carrying the old curated row forward diverges from a
    full rebuild. Planted: doc 8 moves src2 → src0 (the benchmark
    source), so the rebuilt release must EXCLUDE it; under the old
    text-only fingerprint it read 'unchanged' and shipped."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)
    assert 8 in _staged_rows(spark, out1)

    moved = [
        (i, t, la, "src0" if i == 8 else so) for (i, t, la, so) in base
    ]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, moved, grown_dir)

    full_out = str(tmp_path / "rel_v2_full")
    sf = build_release(spark, grown_dir, full_out)
    delta_out = str(tmp_path / "rel_v2_delta")
    sd = update_release(spark, out1, grown_dir, delta_out)

    assert sd["n_added"] == 0 and sd["n_removed"] == 0
    assert sd["n_changed"] == 1  # the metadata-only edit, caught
    assert sd["append_only"] is False
    assert 8 not in _staged_rows(spark, delta_out)  # held out now
    assert _staged_rows(spark, delta_out) == _staged_rows(spark, full_out)
    for k in ("n_raw_docs", "n_curated_docs", "split_counts", "n_shards"):
        assert sd[k] == sf[k], (k, sd[k], sf[k])


def test_update_release_gram_retraction_with_prev_snapshot(spark, tmp_path):
    """With the previous RAW snapshot available (prev_sf_dir — the
    immutable-lake norm), the edit path retracts dirty docs' gram
    contributions exactly instead of recounting the corpus. Pinned
    three ways on a delta that removes a doc, edits one in place AND
    moves one across sources (retract under the OLD source, add under
    the new): retraction == no-snapshot recount == from-scratch
    rebuild, down to the persisted gram-count artifacts."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)

    changed = []
    for (i, t, la, so) in base:
        if i == 3:
            continue  # removed
        if i == 7:
            t = t + " appended tail words"  # edited in place
        if i == 8:
            so = "src3"  # metadata move: retract from src2, add to src3
        changed.append((i, t, la, so))
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, changed, grown_dir)

    full_out = str(tmp_path / "rel_full")
    sf = build_release(spark, grown_dir, full_out)
    recount_out = str(tmp_path / "rel_recount")
    s_rec = update_release(spark, out1, grown_dir, recount_out)
    retract_out = str(tmp_path / "rel_retract")
    s_ret = update_release(
        spark, out1, grown_dir, retract_out, prev_sf_dir=base_dir
    )

    assert _staged_rows(spark, retract_out) == _staged_rows(spark, full_out)
    assert _staged_rows(spark, retract_out) == _staged_rows(
        spark, recount_out
    )
    for k in ("n_raw_docs", "n_curated_docs", "split_counts", "n_shards"):
        assert s_ret[k] == s_rec[k] == sf[k], (k, s_ret[k], s_rec[k], sf[k])
    for k in ("n_flipped_boilerplate_grams", "n_gram_affected_docs",
              "n_reprocessed_docs", "n_carried_docs"):
        assert s_ret[k] == s_rec[k], (k, s_ret[k], s_rec[k])

    # the persisted gram-count state itself matches the from-scratch
    # build (fully-retracted grams dropped, source counts adjusted) —
    # the NEXT incremental release merges off these
    def counts(out):
        return sorted(
            map(tuple, spark.read.parquet(f"{out}/bp_gram_counts").collect())
        )

    def nd(out):
        return sorted(
            map(tuple, spark.read.parquet(f"{out}/source_counts").collect())
        )

    assert counts(retract_out) == counts(full_out)
    assert nd(retract_out) == nd(full_out)


def test_update_release_copy_partition_hook(spark, tmp_path):
    """VERDICT r13 #6: the untouched-partition carry goes through an
    injectable ``copy_partition(src, dst)`` — the seam an object-store
    deployment fills with a server-side copy. A counting double must
    see exactly the partitions the accounting reports copied (and none
    it reports rewritten), and the staged corpus must equal the
    default-copier run byte-for-row."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)

    grown = base + [(23, words("nova", 30), "en", "src1")]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, grown, grown_dir)

    default_out = str(tmp_path / "rel_v2_default")
    s_def = update_release(spark, out1, grown_dir, default_out)

    copied: list[tuple[str, str]] = []

    def counting_copier(src: str, dst: str) -> None:
        import shutil

        copied.append((src, dst))
        shutil.copytree(src, dst)

    hook_out = str(tmp_path / "rel_v2_hooked")
    s_hook = update_release(
        spark, out1, grown_dir, hook_out, copy_partition=counting_copier
    )

    assert len(copied) == s_hook["n_partitions_copied"] > 0
    assert s_hook["n_partitions_copied"] == s_def["n_partitions_copied"]
    copied_pts = {int(dst.rsplit("pt=", 1)[1]) for _, dst in copied}
    rewritten = set(range(s_hook["n_partitions"])) - copied_pts
    assert len(rewritten & copied_pts) == 0
    assert s_hook["n_partitions_rewritten"] <= len(rewritten)
    assert _staged_rows(spark, hook_out) == _staged_rows(spark, default_out)


def test_update_release_retry_converges(spark, tmp_path):
    """ADVICE r13 regression: re-running update_release into the SAME
    out_dir must converge (the staging step starts from an empty
    corpus dir), not fail on already-copied pt= partitions or
    double-append touched ones."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)

    grown = base + [(23, words("nova", 30), "en", "src1")]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, grown, grown_dir)

    delta_out = str(tmp_path / "rel_v2_delta")
    s1 = update_release(spark, out1, grown_dir, delta_out)
    rows1 = _staged_rows(spark, delta_out)
    s2 = update_release(spark, out1, grown_dir, delta_out)  # retry
    assert _staged_rows(spark, delta_out) == rows1
    for k in ("n_curated_docs", "split_counts", "n_shards",
              "n_reprocessed_docs", "n_carried_docs"):
        assert s2[k] == s1[k], (k, s2[k], s1[k])


def test_q203_delta_classes_on_planted_corpus(spark, tmp_path):
    """q203's four delta classes pinned doc-by-doc on a corpus where
    each class is planted: batch ids are %DELTA_MOD==0, and the corpus
    contains a new bench doc whose gram re-decontaminates an old doc,
    a new doc pushing a gram over the boilerplate threshold, a new
    near-dup with a SMALLER id than its old twin (the old canonical is
    newly dropped), plain new docs, and untouched carried docs."""
    from synthetic_data_pipeline_spark.operators.sketches import (
        DELTA_MOD,
        q203_delta_release_classes,
    )

    assert DELTA_MOD == 7  # the planted ids below assume it

    def words(seed: str, n: int) -> str:
        return " ".join(f"{seed}{i}tok" for i in range(n))

    H = "harbor neon cactus drift"
    G = "omega delta pulse rune"
    rows = [
        # old benchmark doc (src0): defines the OLD bench gram set
        (1, words("suite", 30), "en", "src0"),
        # NEW benchmark doc: adds H to the decon index
        (7, f"{words('quiz', 26)} {H}", "en", "src0"),
        # old doc carrying H -> re-decontaminated
        (2, f"{words('beta', 26)} {H}", "en", "src1"),
        # old doc carrying G (df=1 in src2 at release N)
        (3, f"{words('alpha', 26)} {G}", "en", "src2"),
        # NEW doc pushing G to df=2 in src2 -> flip -> 3 reprocessed
        (14, f"{words('gamma', 26)} {G}", "en", "src2"),
        # old near-dup pair: 4 canonical, 5 dropped at BOTH decades
        (4, words("story", 30) + " ending one", "en", "src1"),
        (5, words("story", 30) + " ending two", "en", "src2"),
        # NEW near-dup with a SMALLER id than its old twin: cluster
        # {0, 6} takes label 0, so old canonical 6 is newly dropped
        (6, words("poem", 30) + " closing one", "en", "src1"),
        (0, words("poem", 30) + " closing two", "en", "src2"),
        # plain new clean doc
        (21, words("nova", 30), "en", "src1"),
        # old quality failure: excluded from every decade
        (10, " ".join(["aa"] * 30), "en", "src1"),
        # old clean carried docs
        (8, words("calm", 30), "en", "src1"),
        (9, words("dawn", 30), "en", "src2"),
    ]
    src = str(tmp_path / "corpus")
    _write_corpus(spark, rows, src)
    got = {
        r.status: r.n_docs
        for r in q203_delta_release_classes(spark, src).collect()
    }
    # new: 0 (kept canonical), 14, 21 — the bench doc 7 is held out
    # reprocessed_gram: 2 (bench add), 3 (threshold flip)
    # carried: 4, 8, 9 — 5 dropped both decades, 10 quality-dropped
    # newly_dropped: 6 (label moved to the new smaller id 0)
    assert got == {
        "new": 3,
        "reprocessed_gram": 2,
        "carried": 3,
        "newly_dropped": 1,
    }


def test_update_release_chain_two_generations(spark, tmp_path):
    """VERDICT r13 stretch #8: the weekly cadence COMPOSED. N → N+1 by
    an append-only delta, then N+1 → N+2 by an in-place edit (the
    component-local relabel path) — each hop's staged corpus, splits
    and totals must equal build_release run from scratch on that
    generation's corpus, so incremental state never drifts across
    generations."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    v1_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, v1_dir)
    rel1 = str(tmp_path / "rel_v1")
    build_release(spark, v1_dir, rel1)

    # hop 1: append-only growth
    v2 = base + [(23, words("nova", 30), "en", "src1")]
    v2_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, v2, v2_dir)
    rel2 = str(tmp_path / "rel_v2")
    s2 = update_release(spark, rel1, v2_dir, rel2)
    assert s2["append_only"] is True

    # hop 2: edit doc 7 in place — the edit path, seeded from the
    # DELTA release's persisted state (not a from-scratch one)
    v3 = [
        (i, t + " appended tail words" if i == 7 else t, la, so)
        for (i, t, la, so) in v2
    ]
    v3_dir = str(tmp_path / "corpus_v3")
    _write_corpus(spark, v3, v3_dir)
    rel3 = str(tmp_path / "rel_v3")
    s3 = update_release(spark, rel2, v3_dir, rel3)
    assert s3["append_only"] is False and s3["n_changed"] == 1

    for gen_dir, rel, s in ((v2_dir, rel2, s2), (v3_dir, rel3, s3)):
        full = str(tmp_path / f"full_{os.path.basename(rel)}")
        sf = build_release(spark, gen_dir, full)
        assert _staged_rows(spark, rel) == _staged_rows(spark, full)
        for k in ("n_raw_docs", "n_dedup_dropped", "n_curated_docs",
                  "split_counts", "n_shards"):
            assert s[k] == sf[k], (rel, k, s[k], sf[k])
    staged = {k: v[0] for k, v in _staged_rows(spark, rel3).items()}
    assert "appended tail words" in staged[7]


def test_q205_edit_relabel_scope_planted(spark, tmp_path):
    """q205's four classes pinned on a corpus where each is planted
    via the q188 sim hash (ids picked BY their u16 residue, so the
    deterministic sim hits every class): an untouched near-dup pair
    (carried), a changed doc whose partner survives and re-pairs
    (batch + survivor), a tombstoned dup whose two live members
    re-pair (survivors), a tombstoned dup whose partner finds nothing
    (dissolved), and an added doc pulling a prev-singleton into the
    label space (batch + carried). Cross-engine: the Spark side runs
    the component-local contraction, the oracle replays both decades'
    LP chains from scratch — the planted rows pin that they agree."""
    import duckdb

    from synthetic_data_pipeline_spark.functions.xsql import (
        expand_u16,
        hash_u16,
    )
    from synthetic_data_pipeline_spark.operators.sketches import (
        _edit_relabel_oracle,
        q205_edit_relabel_scope,
    )
    from synthetic_data_pipeline_spark.operators.textops import SNAPSHOT_MOD

    b = expand_u16(hash_u16("CAST(doc_id AS STRING)", "snap"), "duckdb")
    con = duckdb.connect()
    residues = con.execute(
        f"SELECT doc_id, {b} % {SNAPSHOT_MOD} AS _b "
        "FROM (SELECT unnest(range(400)) AS doc_id)"
    ).fetchall()
    by_b: dict[int, list[int]] = {}
    for i, bb in residues:
        by_b.setdefault(int(bb), []).append(int(i))
    stable = sorted(
        i for bb, ids in by_b.items() if bb not in (0, 1, 2) for i in ids
    )
    added, changed = by_b[0][0], by_b[1][0]
    tombed, tombed_solo = by_b[2][0], by_b[2][1]
    s1, s2, s3, s4, s5, s6 = stable[:6]

    def words(seed: str, n: int) -> str:
        return " ".join(f"{seed}{j}tok" for j in range(n))

    rows = [
        (s1, words("alpha", 30) + " endone"),     # untouched pair →
        (s2, words("alpha", 30) + " endtwo"),     #   carried ×2
        (changed, words("beta", 30) + " endthree"),  # batch (changed)
        (s3, words("beta", 30) + " endfour"),        # survivor
        (tombed, words("gamma", 30) + " endfive"),   # survivor
        (s4, words("gamma", 30) + " endsix"),        # survivor
        (tombed_solo, words("kappa", 30)),  # its only prev dup was its
        #                                     tombstone → dissolved
        (added, words("delta", 30) + " endseven"),   # batch (added)
        (s5, words("delta", 30) + " endeight"),      # pulled in →
        #                                              carried
        (s6, words("omega", 30)),  # never clustered, in no class
    ]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{src}/documents.parquet")

    got = {
        r.status: r for r in q205_edit_relabel_scope(spark, src).collect()
    }
    assert got["batch"].n_docs == 2
    assert got["batch"].node_sum == added + changed
    assert got["batch"].label_sum == min(added, s5) + min(changed, s3)
    assert got["survivor"].n_docs == 3
    assert got["survivor"].node_sum == s3 + tombed + s4
    assert got["survivor"].label_sum == (
        min(changed, s3) + 2 * min(tombed, s4)
    )
    assert got["carried"].n_docs == 3
    assert got["carried"].node_sum == s1 + s2 + s5
    assert got["carried"].label_sum == 2 * min(s1, s2) + min(added, s5)
    assert got["dissolved"].n_docs == 1
    assert got["dissolved"].node_sum == tombed_solo
    assert got["dissolved"].label_sum == 0

    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{src}/documents.parquet/*.parquet'"
    )
    odf = con2.execute(_edit_relabel_oracle()).df()
    ora = {r["status"]: r for _, r in odf.iterrows()}
    assert set(ora) == set(got)
    for st in got:
        for c in ("n_docs", "node_sum", "label_sum"):
            assert int(ora[st][c]) == getattr(got[st], c), (st, c)


def test_update_release_zero_delta(spark, tmp_path):
    """update_release on an UNCHANGED corpus — the steady state bench
    times as release_update_noop_sec: nothing reprocessed, everything
    carried, staged corpus byte-equal to release N's."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "v1")
    s1 = build_release(spark, base_dir, out1)
    out2 = str(tmp_path / "v2")
    sd = update_release(spark, out1, base_dir, out2)
    assert sd["append_only"] is True
    assert sd["n_added"] == 0 == sd["n_changed"] == sd["n_removed"]
    assert sd["n_reprocessed_docs"] == 0
    assert sd["n_gram_affected_docs"] == 0
    assert sd["n_newly_dropped"] == 0 == sd["n_newly_kept"]
    assert sd["n_carried_docs"] == s1["n_curated_docs"]
    # the zero-delta steady state rewrites NOTHING: every populated
    # partition carries by copy, no Spark write at all
    assert sd["n_partitions_rewritten"] == 0
    assert sd["n_partitions_copied"] >= 1
    assert sd["n_split_moved"] == 0
    assert _staged_rows(spark, out2) == _staged_rows(spark, out1)


def test_release_cli_dispatch(monkeypatch, capsys):
    """The release CLI's two modes dispatch correctly: bare args run
    build_release, --from PREV runs update_release — no Spark work
    (both are stubbed), just the argparse contract."""
    from synthetic_data_pipeline_spark.plans import release as R

    calls = []

    class _FakeSpark:
        def stop(self):
            pass

    monkeypatch.setattr(
        "synthetic_data_pipeline_spark.session.get_spark",
        lambda **kw: _FakeSpark(),
    )
    monkeypatch.setattr(
        R, "build_release",
        lambda spark, sf, out: calls.append(("build", sf, out)) or {"m": 1},
    )
    monkeypatch.setattr(
        R, "update_release",
        lambda spark, prev, sf, out, prev_sf_dir=None: calls.append(
            ("update", prev, sf, out, prev_sf_dir)
        ) or {"m": 2},
    )
    R.main(["/in", "/out"])
    R.main(["/in2", "/out2", "--from", "/prev"])
    R.main(["/in3", "/out3", "--from", "/prev", "--prev-raw", "/raw"])
    assert calls == [
        ("build", "/in", "/out"),
        ("update", "/prev", "/in2", "/out2", None),
        ("update", "/prev", "/in3", "/out3", "/raw"),
    ]
    assert '"m": 2' in capsys.readouterr().out


def test_update_release_pre_partitioning_fallback(spark, tmp_path):
    """Backward compat: release N staged BEFORE the pt-partitioned
    layout (flat corpus dir, no pt= subdirs) must fall back to a FULL
    rewrite — the dangerous failure mode would be the copy loop
    finding nothing to copy and the touched-partition write shipping
    only the delta."""
    import shutil

    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    s1 = build_release(spark, base_dir, out1)

    # rewrite v1's staged corpus in the OLD flat layout (no pt= dirs)
    flat = load_table(spark, out1 + "/corpus", "documents").drop("pt")
    tmp_corpus = str(tmp_path / "flat_corpus")
    flat.write.parquet(tmp_corpus)
    shutil.rmtree(f"{out1}/corpus/documents.parquet")
    shutil.move(tmp_corpus, f"{out1}/corpus/documents.parquet")

    grown = base + [(23, words("nova", 30), "en", "src1")]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, grown, grown_dir)
    out2 = str(tmp_path / "rel_v2")
    sd = update_release(spark, out1, grown_dir, out2)
    assert sd["n_partitions_copied"] == 0
    assert sd["n_partitions_rewritten"] == sd["n_partitions"]
    staged = _staged_rows(spark, out2)
    # every prior doc carried, the new doc shipped — nothing lost
    assert set(staged) == {2, 5, 6, 7, 8, 9, 23}
    assert sd["n_curated_docs"] == s1["n_curated_docs"] + 1


def test_update_release_reproducible(spark, tmp_path):
    """Running the SAME delta twice yields byte-identical accounting
    and staged rows — the versioned-release guarantee extended to the
    incremental path (a nondeterminism regression in the merge, flip
    detection or partition staging fails here)."""
    from synthetic_data_pipeline_spark.plans.release import (
        build_release,
        update_release,
    )

    words, gram, base = _delta_base_rows()
    base_dir = str(tmp_path / "corpus_v1")
    _write_corpus(spark, base, base_dir)
    out1 = str(tmp_path / "rel_v1")
    build_release(spark, base_dir, out1)
    grown = base + [
        (21, f"{words('gamma', 26)} omega delta pulse rune", "en", "src1"),
        (23, words("nova", 30), "en", "src1"),
    ]
    grown_dir = str(tmp_path / "corpus_v2")
    _write_corpus(spark, grown, grown_dir)
    sa = update_release(spark, out1, grown_dir, str(tmp_path / "va"))
    sb = update_release(spark, out1, grown_dir, str(tmp_path / "vb"))
    ka = {k: v for k, v in sa.items() if k not in ("sf_dir", "prev_out")}
    kb = {k: v for k, v in sb.items() if k not in ("sf_dir", "prev_out")}
    assert ka == kb
    assert _staged_rows(spark, str(tmp_path / "va")) == _staged_rows(
        spark, str(tmp_path / "vb")
    )
