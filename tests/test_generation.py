"""Generation-pipeline invariants (SURVEY.md §5 test plan): exact quota
coverage, the golden validation aggregate (stronger than the reference,
whose committed run fails its own validator), Python-re pattern
compatibility (SURVEY §4.3.3), and partition-count determinism.
"""

from __future__ import annotations

import re

from synthetic_data_pipeline_spark.operators.generation import (
    _DIALECTS,
    _gen_ctes,
    q60_gen_meta_summary,
    q62_gen_validation_report,
)
from synthetic_data_pipeline_spark.functions.xsql import expand_u16
from synthetic_data_pipeline_spark.plans.catalog import SIT_CATALOG
from synthetic_data_pipeline_spark.plans.generate import DEFAULT_CONFIG


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
    patterns = {sid: re.compile(rx) for sid, _n, rx, _t in SIT_CATALOG if rx}
    n_tp = 0
    for r in vals:
        if r.label == "TP" and r.sit_id in patterns:
            n_tp += 1
            assert patterns[r.sit_id].search(r.value), (
                f"{r.sit_id} TP value {r.value!r} fails python re"
            )
    assert n_tp > 100


def _is_placeholder_py(s: str) -> bool:
    """Python mirror of plans/catalog.py::is_placeholder (spec test)."""
    s = s.strip().lower()
    digits = re.sub(r"[^0-9]", "", s)
    alnum = re.sub(r"[^a-z0-9]", "", s)
    if any(m in s for m in ("xxx", "redacted", "placeholder", "example", "sample")):
        return True
    if re.fullmatch(r"[x*\-_]{3,}", s):
        return True
    if len(s) <= 2:
        return True
    if alnum and len(set(alnum)) == 1:
        return True
    if digits and set(digits) == {"0"}:
        return True
    return len(alnum) < len(s) * 0.4


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
    pats = {sid: re.compile(rx) for sid, _n, rx, _t in SIT_CATALOG if rx}
    seen_sits = set()
    for sid, label, value, inst, block in rows:
        seen_sits.add(sid)
        own = pats.get(sid)
        real_own = (
            [m for m in own.findall(block) if not _is_placeholder_py(m)]
            if own
            else []
        )
        if own and label == "TP":
            assert len(real_own) >= inst, (
                f"{sid} TP block yields {len(real_own)} < {inst} matches: {block[:120]!r}"
            )
        elif own:
            assert not real_own, f"{sid} FP block self-matches: {real_own[:3]}"
        for other, pat in pats.items():
            if other == sid:
                continue
            cross = [m for m in pat.findall(block) if not _is_placeholder_py(m)]
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


def test_filler_closed_form_matches_lambda(spark):
    """The Spark pad (closed form over the doc's period string) equals
    the DuckDB pad (one filler word per position, mapped by a lambda)
    for every doc_id % 16 residue, at lengths around the period. DuckDB
    joins an empty list to NULL, which its concat reads as ''."""
    import math

    import duckdb

    from synthetic_data_pipeline_spark.plans.generate import FILLER_WORDS

    rows = []
    for r in range(len(FILLER_WORDS)):
        period = math.lcm(len(FILLER_WORDS), 7 + r % 4)
        for doc in (r, r + 16 * 37):
            for n in (0, 1, period - 1, period, period + 1, 4000):
                rows.append(f"({doc}, {n})")
    values = ", ".join(rows)

    def pads(dialect, run):
        fill = _DIALECTS[dialect]["fill"]("n")
        sql = (
            f"SELECT doc_id, n, coalesce({fill}, '') AS pad FROM "
            f"(SELECT CAST(d AS BIGINT) AS doc_id, CAST(k AS INT) AS n "
            f"FROM (VALUES {values}) AS t(d, k)) AS v"
        )
        return {(doc, n): pad for doc, n, pad in run(sql)}

    spark_pads = pads("spark", lambda q: map(tuple, spark.sql(q).collect()))
    duck_pads = pads("duckdb", lambda q: duckdb.connect().execute(q).fetchall())
    assert len(spark_pads) == len(rows)
    assert spark_pads == duck_pads
    for (doc, n), pad in spark_pads.items():
        assert (len(pad.split(" ")) if pad else 0) == n, (doc, n)
