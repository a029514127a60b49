"""Generation-pipeline invariants (SURVEY.md §5 test plan): exact quota
coverage, the golden validation aggregate (stronger than the reference,
whose committed run fails its own validator), Python-re pattern
compatibility (SURVEY §4.3.3), and partition-count determinism.
"""

from __future__ import annotations

import re

import pytest

from synthetic_data_pipeline_spark.operators.generation import (
    _DIALECTS,
    _REDACT_CONFIG,
    _gen_ctes,
    _rendered_cte,
    q60_gen_meta_summary,
    q62_gen_validation_report,
)
from synthetic_data_pipeline_spark.functions.xsql import expand_u16
from synthetic_data_pipeline_spark.plans.catalog import (
    SIT_CATALOG,
    SIT_PATTERNS,
    real_matches,
)
from synthetic_data_pipeline_spark.plans.generate import DEFAULT_CONFIG, GenConfig


def test_quota_coverage(spark, sf_dir):
    rows = q60_gen_meta_summary(spark, sf_dir).collect()
    assert len(rows) == DEFAULT_CONFIG.n_sits
    for r in rows:
        assert r.n_docs >= DEFAULT_CONFIG.per_sit_count, (
            f"{r.sit_id}: {r.n_docs} < target {DEFAULT_CONFIG.per_sit_count}"
        )
        assert r.n_tp + r.n_fp == r.n_docs


def test_validation_golden(spark, sf_dir):
    """Every TP doc satisfies its instance count; no FP doc is flagged.
    The reference's own run violates both (validation_report.txt:51-52).
    """
    for r in q62_gen_validation_report(spark, sf_dir).collect():
        assert r.tp_satisfied == r.tp_total, f"{r.sit_id}: unsatisfied TPs"
        assert r.fp_flagged == 0, f"{r.sit_id}: flagged FPs"


def test_validation_failures_detector(spark, sf_dir):
    """The failure detector (validator.py:301-330 branches) on
    handcrafted pairs: shortfall fires on found < max(1, instances),
    FP-hit fires on any real match, satisfied pairs emit nothing."""
    from synthetic_data_pipeline_spark.operators.generation import (
        validation_failures,
    )

    pairs = spark.createDataFrame(
        [
            # (doc, sit, label, instances, ms)
            (1, "S_A", "TP", 2, ["x", "y"]),      # satisfied
            (2, "S_A", "TP", 3, ["x"]),           # shortfall 1 < 3
            (3, "S_A", "TP", 0, []),              # needed=max(1,0)=1 > 0
            (4, "S_B", "FP", 0, []),              # clean FP
            (5, "S_B", "FP", 0, ["leak"]),        # FP hit
        ],
        "doc_id long, sit_id string, label string, instances int, ms array<string>",
    )
    got = {
        (r.doc_id, r.issue_type, r.needed, r.found)
        for r in validation_failures(pairs).collect()
    }
    assert got == {
        (2, "TP_SHORTFALL", 3, 1),
        (3, "TP_SHORTFALL", 1, 0),
        (5, "FP_HIT", 0, 1),
    }


def test_tp_values_match_python_re(spark, sf_dir):
    """Pattern-compat across regex engines: every generated TP value
    must match its catalog pattern under Python ``re`` as well (the
    JVM and RE2 sides are covered by the q62 oracle parity). TC SITs
    (empty regex) are generated but never scanned."""
    d = _DIALECTS["spark"]
    vals = spark.sql(
        expand_u16(
            f"WITH {_gen_ctes(DEFAULT_CONFIG, d)} "
            "SELECT sit_id, label, value FROM vals",
            "spark",
        )
    ).collect()
    n_tp = 0
    for r in vals:
        if r.label == "TP" and r.sit_id in SIT_PATTERNS:
            n_tp += 1
            assert SIT_PATTERNS[r.sit_id].search(r.value), (
                f"{r.sit_id} TP value {r.value!r} fails python re"
            )
    assert n_tp > 100


def test_catalog_pairwise_disjoint():
    """The catalog design invariant: no SIT's pattern produces a real
    (non-placeholder) match on any OTHER SIT's rendered block — this is
    what makes the end-to-end validation clean by construction, where
    the reference's own report shows massive cross-matching. Evaluated
    through DuckDB (fast, no Spark session needed) over every generated
    (sit, label, value) and scanned with Python re."""
    import duckdb

    sql = expand_u16(
        f"WITH {_gen_ctes(DEFAULT_CONFIG, _DIALECTS['duckdb'])} "
        "SELECT DISTINCT sit_id, label, value, instances, block FROM vals",
        "duckdb",
    )
    rows = duckdb.connect().execute(sql).fetchall()
    assert len(rows) > 1000
    seen_sits = set()
    for sid, label, value, inst, block in rows:
        seen_sits.add(sid)
        own = sid in SIT_PATTERNS
        real_own = real_matches(sid, block) if own else []
        if own and label == "TP":
            assert len(real_own) >= inst, (
                f"{sid} TP block yields {len(real_own)} < {inst} matches: {block[:120]!r}"
            )
        elif own:
            assert not real_own, f"{sid} FP block self-matches: {real_own[:3]}"
        for other in SIT_PATTERNS:
            if other == sid:
                continue
            cross = real_matches(other, block)
            assert not cross, (
                f"{other} fires on {sid}/{label} block: {cross[:3]} in {block[:140]!r}"
            )
    assert len(seen_sits) == len(SIT_CATALOG)


def test_iban_check_digits_valid(spark, sf_dir):
    """Generated IBANs must pass the real ISO 7064 mod-97 test (the
    reference's checksum at content_generator.py:50-74)."""
    d = _DIALECTS["spark"]
    vals = spark.sql(
        expand_u16(
            f"WITH {_gen_ctes(DEFAULT_CONFIG, d)} "
            "SELECT value FROM vals WHERE sit_id = 'SIT_IBAN' AND label = 'TP'",
            "spark",
        )
    ).collect()
    assert len(vals) > 10
    for r in vals:
        iban = r.value
        rearranged = iban[4:] + iban[:4]
        num = "".join(
            str(ord(c) - 55) if c.isalpha() else c for c in rearranged
        )
        assert int(num) % 97 == 1, f"invalid IBAN {iban}"


def test_generation_deterministic_across_parallelism(spark, sf_dir):
    a = q60_gen_meta_summary(spark, sf_dir).collect()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = q60_gen_meta_summary(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_validation_report_artifact(spark, sf_dir, tmp_path):
    """S17 golden: the single-file report mirrors the oracle-checked
    aggregates line by line, covers every catalog SIT (including the
    unscanned TC family), meets quota everywhere, and — unlike the
    reference's own committed run — detects no issues."""
    from synthetic_data_pipeline_spark.operators.generation import (
        q60_gen_meta_summary,
        write_validation_report,
    )

    out = tmp_path / "validation_report.txt"
    text = write_validation_report(spark, str(out))
    assert out.read_text(encoding="utf-8") == text
    lines = text.splitlines()
    assert lines[0] == "Validation report"
    assert f"Total unique SITs observed in mapping: {len(SIT_CATALOG)}" in text
    sit_lines = [l for l in lines if l.startswith("SIT_")]
    assert len(sit_lines) == len(SIT_CATALOG)
    meta = {r.sit_id: r for r in q60_gen_meta_summary(spark, sf_dir).collect()}
    for l in sit_lines:
        sid = l.split(":")[0]
        assert f"docs={meta[sid].n_docs}," in l
        assert f"total_instances={meta[sid].total_instances}" in l
    assert ">>> WARNING" not in text, "quota shortfall in report"
    assert "No issues detected based on regex checks and heuristics." in text
    # every scanned TP doc satisfied -> tp_docs == n_tp for non-TC SITs
    for l in sit_lines:
        sid = l.split(":")[0]
        if not sid.endswith("_TC"):
            assert f"tp_docs={meta[sid].n_tp}," in l, l
        assert "fp_flagged=0," in l, l


def test_validation_report_fault_golden(spark, tmp_path):
    """VERDICT r4 stretch #8: byte-pin the FULL report text with q98's
    deterministic fault injection and an elevated coverage target, so
    every section of the reference's report shape
    (modules/validator.py:332-357) — per-SIT lines, coverage warnings,
    distribution summary, TP-shortfall and FP-hit issue lines — renders
    and stays stable. Regenerate tests/golden/validation_report_faults.txt
    deliberately if templates/catalog change."""
    from pathlib import Path

    from synthetic_data_pipeline_spark.operators.generation import (
        DEFAULT_CONFIG,
        write_validation_report,
    )

    golden = Path(__file__).parent / "golden" / "validation_report_faults.txt"
    out = tmp_path / "report.txt"
    text = write_validation_report(
        spark, str(out), inject=True,
        coverage_target=DEFAULT_CONFIG.per_sit_count + 1,
    )
    assert out.read_text(encoding="utf-8") == text
    # shape: all reference sections present before the byte compare,
    # so a mismatch failure still says WHICH branch broke
    assert "  >>> WARNING: only" in text
    assert "TP missing matches for doc" in text
    assert "FP contains valid-looking match in doc" in text
    assert "Distribution summary:" in text
    assert text == golden.read_text(encoding="utf-8")


def test_template_register_distribution(spark):
    """Pin the corpus texture the templates promise (reference
    content_generator.py:208-242): multi-paragraph bodies, multi-turn
    chat with agent/client alternation, the attachment email naming its
    own attachment file, and a multi-register filler pad — as
    DISTRIBUTIONAL invariants, not byte goldens, so template wording can
    evolve without breaking the pin."""
    from synthetic_data_pipeline_spark.operators.generation import (
        _REDACT_CONFIG,
        _rendered_docs,
    )
    from synthetic_data_pipeline_spark.plans.generate import FILLER_WORDS

    docs = _rendered_docs(spark, _REDACT_CONFIG).collect()
    fmt_of = {}  # derive format from the frame line
    for r in docs:
        assert "\n\n" in r.text, f"doc {r.doc_id}: no paragraph break"
        if r.text.startswith("from:"):
            fmt_of[r.doc_id] = (
                "email_with_attachment"
                if "see attached report-d" in r.text
                else "email"
            )
        elif "transcript follows" in r.text:
            fmt_of[r.doc_id] = "chat"
        else:
            fmt_of[r.doc_id] = "document"
    assert set(fmt_of.values()) == {
        "email", "email_with_attachment", "chat", "document"
    }
    for r in docs:
        fmt = fmt_of[r.doc_id]
        if fmt == "chat":
            # each SIT block is ask → answer → acknowledge
            assert r.text.count("agent:") >= 2, r.doc_id
            assert r.text.count("client:") >= 1, r.doc_id
            assert r.text.count("agent:") == 2 * r.text.count("client:")
        if fmt == "email_with_attachment":
            # the body must reference ITS OWN attachment filename
            assert f"report-d{r.doc_id}.xlsx" in r.text, r.doc_id
    # filler is multi-register across the corpus: every bank word
    # appears, and some padded doc uses >=3 distinct filler words
    corpus = " ".join(r.text for r in docs)
    for w in FILLER_WORDS:
        assert f" {w}" in corpus, f"filler word {w!r} never used"
    assert any(
        sum(1 for w in FILLER_WORDS if f" {w} " in r.text) >= 3 for r in docs
    ), "no doc shows a multi-word filler rotation"


def test_filler_sentence_variety(spark):
    """Sentence-level texture (VERDICT r5 #7, third carry): the pad's
    per-doc register mixing — odd stride + offset over the 16-word
    pool, 7-10-word sentence cadence — must yield many distinct filler
    sentence forms corpus-wide (a fixed-stride fixed-cadence rotation
    caps at 8) and at least three distinct sentence lengths."""
    from synthetic_data_pipeline_spark.operators.generation import (
        _REDACT_CONFIG,
        _rendered_docs,
    )
    from synthetic_data_pipeline_spark.plans.generate import FILLER_WORDS

    fw = set(FILLER_WORDS)
    forms: set = set()
    lengths: set = set()
    for r in _rendered_docs(spark, _REDACT_CONFIG).collect():
        for seg in r.text.split("."):
            toks = seg.split()
            run: list = []  # trailing run of filler words in the segment
            for t in reversed(toks):
                if t not in fw:
                    break
                run.append(t)
            if len(run) >= 7:
                forms.add(tuple(reversed(run)))
                lengths.add(len(run))
    assert len(forms) >= 32, (
        f"only {len(forms)} distinct filler sentence forms — pad texture "
        "regressed to a fixed rotation"
    )
    assert len(lengths) >= 3, f"sentence cadence not varying: {lengths}"


def test_scanned_pairs_memoized_and_stable(spark):
    """q62/q91/q98 share one session-memoized scanned-pairs table; a
    memo hit must return the identical frame, and a rebuilt frame must
    carry the identical relation (deterministic lineage)."""
    from synthetic_data_pipeline_spark.operators import generation

    generation.clear_scanned_pairs_cache()
    a = generation._scanned_pairs(spark)
    assert generation._scanned_pairs(spark) is a, "memo must hit"
    cold = sorted(
        map(tuple, a.select("doc_id", "sit_id", "label", "instances").collect())
    )
    generation.clear_scanned_pairs_cache()
    b = generation._scanned_pairs(spark)
    assert b is not a, "cleared cache must rebuild"
    assert (
        sorted(
            map(
                tuple,
                b.select("doc_id", "sit_id", "label", "instances").collect(),
            )
        )
        == cold
    )


def test_validation_report_other_config(spark, tmp_path):
    """Every report section derives from the ``cfg`` corpus: the per-SIT
    ``docs=`` values sum to that config's slot count, and its own
    coverage target is met, so no warning appears."""
    from synthetic_data_pipeline_spark.operators.generation import (
        write_validation_report,
    )
    from synthetic_data_pipeline_spark.plans.generate import (
        CYCLE,
        CYCLE_SUM,
        GenConfig,
    )

    cfg = GenConfig(per_sit_count=10)
    assert cfg.n_docs != DEFAULT_CONFIG.n_docs
    text = write_validation_report(spark, str(tmp_path / "r.txt"), cfg=cfg)
    docs = [
        int(re.search(r"docs=(\d+),", l).group(1))
        for l in text.splitlines()
        if l.startswith("SIT_")
    ]
    assert len(docs) == len(SIT_CATALOG)
    assert sum(docs) == cfg.n_docs // len(CYCLE) * CYCLE_SUM
    assert ">>> WARNING" not in text
    avg = sum(docs) / cfg.n_docs
    assert f"Average SITs per doc: {avg:.2f}" in text


def test_generation_compiles_without_codegen_fallback(spark, tmp_path):
    """The generation plans compile: with Spark's codegen fallback off,
    a generated method over the JVM's 64 KB limit fails the query
    instead of silently running interpreted. Covers the sink's SQL
    (as perfbench builds it), q61 and the validation report."""
    from synthetic_data_pipeline_spark import state
    from synthetic_data_pipeline_spark.operators.generation import (
        _rendered_cte,
        q61_gen_corpus_stats,
        write_validation_report,
    )

    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # memoised frames were planned under the old setting
        state.clear()
        d = _DIALECTS["spark"]
        sql = expand_u16(
            f"WITH {_gen_ctes(DEFAULT_CONFIG, d)}, {_rendered_cte(d)} "
            "SELECT doc_id, format, text FROM rendered",
            "spark",
        )
        # collect, not count: a count prunes the text and its dispatch
        rows = spark.sql(sql).collect()
        assert len(rows) == DEFAULT_CONFIG.n_docs
        assert all(r.text for r in rows)
        assert q61_gen_corpus_stats(spark, "").count() == len(
            DEFAULT_CONFIG.formats
        )
        text = write_validation_report(spark, str(tmp_path / "r.txt"))
        assert "No issues detected" in text
    finally:
        spark.conf.set(key, prev)
        state.clear()


def test_filler_closed_form_matches_lambda():
    """The kernel's pad (its doc's period string, repeated) equals the
    DuckDB pad (one filler word per position, mapped by a lambda) for
    every doc_id % 16 residue, at lengths around the period. DuckDB
    joins an empty list to NULL, which its concat reads as ''."""
    import math

    import duckdb

    from synthetic_data_pipeline_spark.plans.generate import (
        FILLER_WORDS,
        filler_pad,
    )

    rows = []
    for r in range(len(FILLER_WORDS)):
        period = math.lcm(len(FILLER_WORDS), 7 + r % 4)
        for doc in (r, r + 16 * 37):
            for n in (0, 1, period - 1, period, period + 1, 4000):
                rows.append((doc, n))
    values = ", ".join(f"({doc}, {n})" for doc, n in rows)
    fill = _DIALECTS["duckdb"]["fill"]("n")
    sql = (
        f"SELECT doc_id, n, coalesce({fill}, '') AS pad FROM "
        f"(SELECT CAST(d AS BIGINT) AS doc_id, CAST(k AS INT) AS n "
        f"FROM (VALUES {values}) AS t(d, k)) AS v"
    )
    duck_pads = {
        (doc, n): pad for doc, n, pad in duckdb.connect().execute(sql).fetchall()
    }
    kernel_pads = {(doc, n): filler_pad(doc, n) for doc, n in rows}
    assert len(kernel_pads) == len(rows)
    assert kernel_pads == duck_pads
    for (doc, n), pad in kernel_pads.items():
        assert (len(pad.split(" ")) if pad else 0) == n, (doc, n)


_PARITY_CONFIGS = {
    "default": DEFAULT_CONFIG,
    "redact": _REDACT_CONFIG,
    "other": GenConfig(
        per_sit_count=10, tp_ratio=0.3, n_sits=20,
        formats=("chat", "pdf", "email"),
    ),
}


@pytest.mark.parametrize("name", sorted(_PARITY_CONFIGS))
def test_kernel_matches_sql_oracle(spark, name):
    """The Spark kernel's ``rendered`` and ``vals`` rows equal DuckDB's
    run of the shared generation SQL, row for row — two independent
    implementations of one generator."""
    import duckdb

    cfg = _PARITY_CONFIGS[name]
    queries = {
        "rendered": "SELECT doc_id, format, word_count_target, text FROM rendered",
        "vals": (
            "SELECT doc_id, format, word_count_target, slot, sit_id, label, "
            "instances, sit_name, tcs, confidence, value, block FROM vals"
        ),
    }
    for cte, select in queries.items():
        got = {}
        for dialect in ("spark", "duckdb"):
            d = _DIALECTS[dialect]
            sql = expand_u16(
                f"WITH {_gen_ctes(cfg, d)}, {_rendered_cte(d)} {select}",
                dialect,
            )
            if dialect == "spark":
                rows = map(tuple, spark.sql(sql).collect())
            else:
                rows = duckdb.connect().execute(sql).fetchall()
            got[dialect] = sorted(rows)
        assert len(got["spark"]) == len(got["duckdb"]) > 0, cte
        assert got["spark"] == got["duckdb"], cte


def test_spark_generation_plan_shape(spark):
    """Spark generates with the kernel, not the large generation SQL:
    no Spark generation query carries an md5 draw or a REPARTITION
    cut, and the sink (generation → rendition UDF) runs with no
    exchange."""
    from synthetic_data_pipeline_spark.operators import mapping
    from synthetic_data_pipeline_spark.operators.generation import (
        _corpus_stats_sql,
        _meta_summary_sql,
        _rendered_sql,
    )
    from synthetic_data_pipeline_spark.sources.renditions import add_renditions

    d = _DIALECTS["spark"]
    texts = [
        _rendered_sql(DEFAULT_CONFIG),
        f"WITH {_gen_ctes(DEFAULT_CONFIG, d)}, {_rendered_cte(d)} "
        "SELECT doc_id, format, text FROM rendered",
        _meta_summary_sql(DEFAULT_CONFIG, "spark"),
        _corpus_stats_sql(DEFAULT_CONFIG, "spark"),
        mapping._unpack_sql(DEFAULT_CONFIG, "spark"),
        mapping._upsert_sql(DEFAULT_CONFIG, "spark"),
        mapping._tcs_sql(DEFAULT_CONFIG, "spark"),
    ]
    for text in texts:
        assert "md5(" not in text.lower() and "REPARTITION" not in text.upper()
    sink = add_renditions(spark.sql(_rendered_sql(DEFAULT_CONFIG)))
    plan = sink._jdf.queryExecution().executedPlan().toString()
    assert "sdp_gen_doc" in plan and "renditions_udf" in plan
    assert "Exchange" not in plan, plan


def test_generation_on_a_foreign_session(spark, sf_dir, tmp_path):
    """A session the package did not build (``spark.newSession()``, as
    an external harness may hand over) has no kernel registered; the
    generation queries and the report register it and give the default
    session's results."""
    from synthetic_data_pipeline_spark.operators import generation, mapping
    from synthetic_data_pipeline_spark.operators.generation import (
        q61_gen_corpus_stats,
        write_validation_report,
    )

    queries = [
        q60_gen_meta_summary,
        q61_gen_corpus_stats,
        mapping.q63_mapping_pack_roundtrip,
        mapping.q64_mapping_upsert,
        mapping.q65_distinct_tcs_histogram,
    ]

    def run(session, out):
        results = [sorted(map(tuple, q(session, sf_dir).collect())) for q in queries]
        # the memo is per application, so a cleared one makes the
        # report build its frames in ``session``
        generation.clear_scanned_pairs_cache()
        return results, write_validation_report(session, str(out))

    want = run(spark, tmp_path / "default.txt")
    other = spark.newSession()
    assert not other.catalog.functionExists("sdp_gen_doc")
    got = run(other, tmp_path / "foreign.txt")
    generation.clear_scanned_pairs_cache()
    assert all(want[0]) and got == want


@pytest.mark.parametrize("name", ["default", "other"])
def test_scanned_pairs_match_duckdb_pairs(spark, name):
    """The Spark scan (Python ``re`` in an Arrow UDF) and DuckDB's
    ``pairs`` (RE2 in SQL) give the same ``ms`` for every assigned
    pair, list order included: the report's sample is order-sensitive."""
    import duckdb

    from synthetic_data_pipeline_spark.operators import generation
    from synthetic_data_pipeline_spark.operators.generation import _pairs_sql

    cfg = _PARITY_CONFIGS[name]
    got = sorted(
        (r.doc_id, r.sit_id, list(r.ms))
        for r in generation._scanned_pairs(spark, cfg)
        .select("doc_id", "sit_id", "ms")
        .collect()
    )
    sql = expand_u16(
        f"WITH {_pairs_sql(cfg)} SELECT doc_id, sit_id, ms FROM pairs", "duckdb"
    )
    want = sorted(
        (d, s, list(ms)) for d, s, ms in duckdb.connect().execute(sql).fetchall()
    )
    assert len(got) == len(want) > 0
    # some lists hold several matches, so their order is checked
    assert any(len(ms) > 1 for _d, _s, ms in got)
    assert got == want


def test_scan_plan_shape(spark):
    """The Spark scan is the kernel's: the scanned pairs' executed plan
    has no Arrow UDF of its own (the kernel, which scans, sits behind
    the rendered corpus's checkpoint) and no JVM regex
    (``regexp_extract_all``, ``RLike``)."""
    from synthetic_data_pipeline_spark.operators.generation import _build_scanned

    plan = _build_scanned(spark, DEFAULT_CONFIG)._jdf.queryExecution()
    text = plan.executedPlan().toString()
    assert "regexp_extract_all" not in text.lower(), text
    assert "rlike" not in text.lower(), text
    assert "ArrowEvalPython" not in text, text


def test_kernel_slot_matches_are_real_matches(spark):
    """Each kernel slot's ``ms`` is ``real_matches`` of its SIT over the
    document's text, and NULL for the unscanned TC SITs."""
    from synthetic_data_pipeline_spark.operators.generation import _rendered_docs

    n_scanned = n_tc = 0
    for r in _rendered_docs(spark, DEFAULT_CONFIG).collect():
        for s in r.slots:
            if s.sit_id in SIT_PATTERNS:
                assert list(s.ms) == real_matches(s.sit_id, r.text), (r.doc_id, s)
                n_scanned += 1
            else:
                assert s.ms is None, (r.doc_id, s)
                n_tc += 1
    assert n_scanned > 0 and n_tc > 0


def test_gen_cte_skips_the_scan(spark):
    """Only ``_rendered_sql`` asks the kernel to scan: ``ms`` is NULL in
    every slot of the ``gen`` CTE (read by the sink, q60, q61 and
    q63-q65), and no Spark generation query runs the kernel twice."""
    from synthetic_data_pipeline_spark.operators import mapping
    from synthetic_data_pipeline_spark.operators.generation import (
        _corpus_stats_sql,
        _meta_summary_sql,
        _rendered_sql,
    )
    from synthetic_data_pipeline_spark.plans.generate import KERNEL

    d = _DIALECTS["spark"]
    gen = f"WITH {_gen_ctes(DEFAULT_CONFIG, d)} SELECT slots FROM gen"
    slots = [s for r in spark.sql(gen).collect() for s in r.slots]
    assert slots and all(s.ms is None for s in slots)
    texts = [
        _rendered_sql(DEFAULT_CONFIG),
        f"WITH {_gen_ctes(DEFAULT_CONFIG, d)}, {_rendered_cte(d)} "
        "SELECT doc_id, format, text FROM rendered",
        _meta_summary_sql(DEFAULT_CONFIG, "spark"),
        _corpus_stats_sql(DEFAULT_CONFIG, "spark"),
        mapping._unpack_sql(DEFAULT_CONFIG, "spark"),
        mapping._upsert_sql(DEFAULT_CONFIG, "spark"),
        mapping._tcs_sql(DEFAULT_CONFIG, "spark"),
    ]
    for text in texts:
        assert text.count(f"{KERNEL}(") == 1, text


def test_scan_udf_matches_duckdb_off_ascii():
    """The Spark scan (``real_matches``) and DuckDB's ``_ms_sql`` agree
    where Unicode ``re`` would not: non-ASCII letters and digits next to
    a match (``\\b``, ``\\d``), beside placeholder values the filter
    drops."""
    import duckdb

    from synthetic_data_pipeline_spark.operators.generation import _ms_sql

    cases = [
        (0, "SIT_AUS_BANK", "ref é123456 and 654321é end"),
        (1, "SIT_CCN", "card 4111 1111 1111 1111é or 5500-0000-0000-0004 or 0000"),
        (2, "SIT_SSN", "SSN 000-00-0000 and 123-45-6789 then 234-56-7890"),
        (3, "SIT_DATE", "on 2024-01-0٢ and 2023-12-31ü, 2022-02-02"),
    ]
    got = {i: real_matches(sit_id, text) for i, sit_id, text in cases}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, sit_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", cases)
    want = {
        i: list(ms)
        for i, ms in con.execute(
            f"SELECT i, {_ms_sql('sit_id', 'text')} FROM t"
        ).fetchall()
    }
    assert got == want
    assert got[0] == ["123456", "654321"] and got[2] == ["123-45-6789", "234-56-7890"]
