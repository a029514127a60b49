"""q91 issue-list semantics: positions and excerpts must agree with
Python ``re``/str ground truth (the reference validator's finditer
loop, modules/validator.py:279-299), and the display caps must hold."""

from __future__ import annotations

import re
from collections import Counter

import duckdb

from synthetic_data_pipeline_spark.functions.xsql import expand_u16
from synthetic_data_pipeline_spark.operators.generation import (
    _DIALECTS,
    _gen_ctes,
    _rendered_cte,
    q91_sit_issue_list,
)
from synthetic_data_pipeline_spark.plans.catalog import SIT_CATALOG, SIT_PATTERNS
from synthetic_data_pipeline_spark.plans.generate import DEFAULT_CONFIG


def test_redact_single_pass_equals_chain(spark, sf_dir):
    """The single-pass alternation redaction must agree per document
    with the sequential catalog-order replace chain — the semantic spec
    it optimizes. Runs over BOTH the documents table (match-free
    passthrough) and the generated corpus (every doc carries planted
    SIT values, so real replacements are exercised); q99's DuckDB chain
    oracle re-proves the generated-corpus case every round."""
    from synthetic_data_pipeline_spark.operators.generation import _rendered_docs
    from synthetic_data_pipeline_spark.operators.sitscan import (
        redact_chain_df,
        redact_df,
    )
    from synthetic_data_pipeline_spark.sources.tables import load_table

    corpora = {
        "documents": load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ),
        "generated": _rendered_docs(spark),
    }
    for label, docs in corpora.items():
        fast = {r.doc_id: (r.n_redactions, r.redacted_md5)
                for r in redact_df(docs).collect()}
        chain = {r.doc_id: (r.n_redactions, r.redacted_md5)
                 for r in redact_chain_df(docs).collect()}
        assert fast == chain, f"{label}: single-pass != chain"
    assert any(n > 0 for n, _ in fast.values()), (
        "generated corpus redacted nothing — planted values unmatched"
    )


def test_issue_list_positions_and_excerpts(spark, sf_dir):
    rows = q91_sit_issue_list(spark, sf_dir).collect()
    assert rows, "issue list empty"
    assert len(rows) <= 500
    per_sit = Counter(r.sit_id for r in rows)
    assert max(per_sit.values()) <= 5
    # a meaningful diagnostic: most scanned SITs contribute rows
    assert len(per_sit) >= 20

    # ground-truth rendered text, independently derived through DuckDB
    d = _DIALECTS["duckdb"]
    sql = expand_u16(
        f"WITH {_gen_ctes(DEFAULT_CONFIG, d)}, {_rendered_cte(d)} "
        "SELECT doc_id, text FROM rendered",
        "duckdb",
    )
    texts = dict(duckdb.connect().execute(sql).fetchall())
    for r in rows:
        text = texts[r.doc_id]
        # start is the first occurrence of the match value, 0-based
        assert text[r.start : r.start + len(r.match)] == r.match
        assert text.find(r.match) == r.start
        # excerpt mirrors the validator's ±30-char slice, newlines
        # flattened
        end = r.start + len(r.match)
        expected = text[max(0, r.start - 30) : min(len(text), end + 30)].replace(
            "\n", " "
        )
        assert r.excerpt == expected
        # the value is a real regex match of its SIT's pattern
        pat = SIT_PATTERNS[r.sit_id]
        assert pat.fullmatch(r.match) or pat.search(
            r.match
        ), f"{r.sit_id}: {r.match!r} not a pattern match"


# One hand-built matching example per RE2-safe SIT — used to prove the
# cheap pre-guards in sitscan._GUARD_KIND never suppress a true match.
_GUARD_EXAMPLES = {
    "SIT_CCN": "4123-4567-8901-2345",
    "SIT_SSN": "123-45-6789",
    "SIT_IBAN": "DE44500105175407324931",
    "SIT_IPV4": "192.168.0.1",
    "SIT_EMAIL": "user@example.com",
    "SIT_PHONE": "415-555-1234",
    "SIT_ABA": "021000021",
    "SIT_PASSPORT": "A12345678",
    "SIT_DEA": "AB1234567",
    "SIT_SWIFT": "DEUTDEFF",
    "SIT_ITIN": "912-78-1234",
    "SIT_DATE": "2024-01-31",
    "SIT_PASSPORT_LABELED": "passport no: ABC123456",
    "SIT_BANK_US": "acct: 1234567890",
    "SIT_DRIVER_US": "driver license: A1B2C3D4",
    "SIT_CAN_PHIN": "phin: 712345678",
    "SIT_AUS_MEDACC": "medical account: 12345678901",
    "SIT_CAN_DRIVER": "permis no: 12345-67890",
    "SIT_AUS_DRIVER": "driver licence: AB12CD",
    "SIT_AZURE_SAS": "sig=abcdefghijkl",
    "SIT_ICD10": "A12",
    "SIT_ICD9": "E123.4",
    "SIT_UK_NINO": "AB123456C",
    "SIT_BR_CPF": "123.456.789-09",
    "SIT_BR_RG": "12.345.678-9",
    "SIT_CAN_SIN": "123-456-789",
    "SIT_CAN_BANK": "1234567",
    "SIT_AUS_TFN": "12345678",
    "SIT_CAN_HEALTH": "412345678",
    "SIT_FR_INSEE": "1550123456789",
    "SIT_EU_DEBIT": "6123456789012345",
    "SIT_CAN_PASSPORT": "AB123456",
    "SIT_AUS_PASSPORT": "A1234567",
    "SIT_AUS_BANK": "123456",
}

_GUARD_PY = {
    "digit": lambda t: any(c.isdigit() for c in t),
    "at": lambda t: "@" in t,
    "sig": lambda t: "sig=" in t,
    "upper": lambda t: any("A" <= c <= "Z" for c in t),
}


def test_guard_examples_match_and_satisfy_guards():
    """Every example really matches its pattern (so the corpus below is
    a live probe of each guard), and satisfies the guard kind the scan
    gates that pattern behind — a failing guard would have silently
    zeroed a matching doc."""
    from synthetic_data_pipeline_spark.operators.sitscan import _GUARD_KIND
    from synthetic_data_pipeline_spark.plans.catalog import RE2_SAFE_IDS

    by_id = {s: rx for s, _n, rx, _t in SIT_CATALOG}
    assert set(_GUARD_EXAMPLES) == set(RE2_SAFE_IDS)
    for sit_id, example in _GUARD_EXAMPLES.items():
        assert re.search(by_id[sit_id], example), sit_id
        kind = _GUARD_KIND.get(sit_id, "digit")
        assert _GUARD_PY[kind](example), (sit_id, kind)


def test_guarded_scan_counts_planted_matches(spark):
    """End-to-end: one planted doc per SIT through the guarded scan —
    every SIT must report at least one match (the guard can only skip
    docs that cannot match)."""
    from synthetic_data_pipeline_spark.operators.sitscan import (
        sit_scan_frame,
    )

    rows = [
        (i, f"lorem ipsum {ex} dolor sit")
        for i, ex in enumerate(_GUARD_EXAMPLES.values())
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.sit_id: r.total_matches for r in sit_scan_frame(docs).collect()}
    for sit_id in _GUARD_EXAMPLES:
        assert got.get(sit_id, 0) >= 1, sit_id


def test_pii_density_planted(spark, tmp_path):
    """q167 semantics: a 'dirty' source planting one real SSN and one
    real email per doc must report density ≈ 2 matches per doc's
    tokens; a clean source reports zero; placeholder values (XXX-XX-
    XXXX) must NOT count as PII."""
    from synthetic_data_pipeline_spark.operators.sitscan import (
        q167_pii_density,
    )

    dirty = "contact me at bobx@acme-corp.io my ssn is 123-45-678{i} ok"
    ph = "form field XXX-XX-XXXX stays a placeholder nothing real here"
    clean = "just ordinary words about spark plans and shuffles today"
    rows = [(i, dirty.format(i=i), "en", "dirty", 0) for i in range(5)]
    rows += [(10 + i, ph, "en", "placeholder", 0) for i in range(5)]
    rows += [(20 + i, clean, "en", "clean", 0) for i in range(5)]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.source: r for r in q167_pii_density(spark, sf_dir).collect()}
    assert set(got) == {"dirty", "placeholder", "clean"}
    d = got["dirty"]
    assert d.docs_with_pii == 5 and d.pii_matches == 10  # email + ssn each
    assert d.pii_per_10k_tokens > 0
    assert got["clean"].pii_matches == 0
    assert got["placeholder"].pii_matches == 0  # placeholders excluded
