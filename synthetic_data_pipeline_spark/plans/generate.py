"""Synthetic-document generation — the reference's stage 1+2
(modules/meta_generator.py, modules/content_generator.py) re-designed
for distributed execution.

Two semantic redesigns vs the reference (SURVEY.md §4.3.1-2):

1. **Counter-mode randomness.** The reference threads one sequential
   PRNG (``random.seed(42)`` at meta_generator.py:64) through every
   draw; a cluster cannot reproduce a sequential stream. Every draw
   here is ``md5(key:tag)`` arithmetic — a pure per-row function,
   identical under any partitioning AND in DuckDB, so generation itself
   is oracle-checked. Outputs are distributionally (not byte-)
   identical to the reference.

2. **Closed-form quota planning.** The reference's greedy
   least-covered-first loop (meta_generator.py:87-112) is inherently
   sequential. Here the *slot* calendar is closed-form: a fixed
   20-document cycle of SIT-counts realizes the configured bucket
   distribution exactly (6×"1", 6×"2-3", 6×"4-6", 2×">6" per cycle —
   config.json:13-18), so a document's first slot index is pure
   arithmetic on doc_id — no prefix-sum shuffle, no driver loop — and
   slot→SIT round-robin (slot % n_sits) makes per-SIT coverage exact by
   construction: floor(total_slots / n_sits) ≥ per_sit_count.

The generation SQL is written once in the shared Spark/DuckDB dialect
(md5, substr, ascii, CASE, repeat, lpad, chr — identical semantics);
only the numbers source and the per-row explode differ per engine.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from ..functions.xsql import hash_int_range, hash_u16, hash_unit
from ..plans.catalog import SIT_CATALOG

# 20-doc cycle of SIT counts: realizes 30% singles, 30% two-to-three,
# 30% four-to-six, 10% seven-plus (config.json:13-18) exactly per cycle.
CYCLE = [1, 2, 4, 1, 3, 5, 7, 1, 2, 6, 1, 3, 4, 1, 2, 5, 10, 1, 3, 6]
CYCLE_PREFIX = [sum(CYCLE[:i]) for i in range(len(CYCLE))]
CYCLE_SUM = sum(CYCLE)  # 68 slots per 20 docs

FORMATS = ["email", "chat", "document", "pdf", "email_with_attachment"]


@dataclass(frozen=True)
class GenConfig:
    per_sit_count: int = 40
    tp_ratio: float = 0.5
    n_sits: int = len(SIT_CATALOG)
    formats: tuple = tuple(FORMATS)

    @property
    def n_docs(self) -> int:
        """Smallest multiple of the cycle length whose slot total gives
        every SIT ≥ per_sit_count docs under round-robin assignment."""
        need = self.n_sits * self.per_sit_count
        cycles = -(-need // CYCLE_SUM)  # ceil
        return cycles * len(CYCLE)


DEFAULT_CONFIG = GenConfig()


def _case_mod20(expr: str, values: list[int]) -> str:
    whens = " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(values[:-1]))
    return f"(CASE ({expr}) % 20 {whens} ELSE {values[-1]} END)"


def docs_sql(cfg: GenConfig, numbers_src: str) -> str:
    """Document metadata: format, word target, sit_count, slot_base.
    ``numbers_src`` must yield a ``doc_id`` column (dialect-specific).
    """
    fmt_idx = f"({hash_u16('doc_id', 'fmt')} % {len(cfg.formats)})"
    fmt_whens = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(cfg.formats[:-1])
    )
    fmt = f"(CASE {fmt_idx} {fmt_whens} ELSE '{cfg.formats[-1]}' END)"
    # word target: 65% in 500-1500, else 300-4000 (config.json:6-12)
    wct = (
        f"(CASE WHEN {hash_unit('doc_id', 'wsel')} < 0.65 "
        f"THEN {hash_int_range('doc_id', 'wct1', 500, 1500)} "
        f"ELSE {hash_int_range('doc_id', 'wct2', 300, 4000)} END)"
    )
    cnt = _case_mod20("doc_id", CYCLE)
    # floor(x/20.0) instead of integer '/' — Spark and DuckDB both
    # return DOUBLE for int division, exact for doc_id < 2^52.
    base = (
        f"(CAST(floor(doc_id / 20.0) AS BIGINT) * {CYCLE_SUM} "
        f"+ {_case_mod20('doc_id', CYCLE_PREFIX)})"
    )
    return f"""
      SELECT doc_id,
             {fmt} AS format,
             {wct} AS word_count_target,
             {cnt} AS sit_count,
             CAST({base} AS BIGINT) AS slot_base
      FROM {numbers_src}
    """


def doc_sits_sql(cfg: GenConfig, docs_cte: str, explode_j: str) -> str:
    """One row per (doc, sit-slot). ``explode_j`` is the dialect's
    per-row 0..sit_count-1 generator expression aliased ``j``."""
    sit_whens = " ".join(
        f"WHEN {i} THEN '{sid}'" for i, (sid, *_rest) in enumerate(SIT_CATALOG[:-1])
    )
    sit_id = f"(CASE (slot % {cfg.n_sits}) {sit_whens} ELSE '{SIT_CATALOG[-1][0]}' END)"
    name_whens = " ".join(
        f"WHEN '{sid}' THEN '{name}'" for sid, name, *_r in SIT_CATALOG[:-1]
    )
    sit_name = (
        f"(CASE sit_id {name_whens} ELSE '{SIT_CATALOG[-1][1]}' END)"
    )
    # lowercase comma-joined TC list, used by the template context
    # lines — lowercase so no uppercase-class pattern can ever fire on
    # template prose (the disjointness invariant, plans/catalog.py).
    tcs_whens = " ".join(
        f"WHEN '{sid}' THEN '{', '.join(t.lower() for t in tcs)}'"
        for sid, _name, _rx, tcs in SIT_CATALOG[:-1]
    )
    tcs_expr = (
        f"(CASE sit_id {tcs_whens} "
        f"ELSE '{', '.join(t.lower() for t in SIT_CATALOG[-1][3])}' END)"
    )
    label = (
        f"(CASE WHEN {hash_unit('slot', 'label')} < {cfg.tp_ratio} "
        f"THEN 'TP' ELSE 'FP' END)"
    )
    # instance buckets: 1-2 @60%, 3-5 @30%, 6-10 @10% (shape of
    # config.json:19-24, bounded to keep rendered docs small)
    u = hash_unit("slot", "instsel")
    inst = (
        f"(CASE WHEN {u} < 0.6 THEN {hash_int_range('slot', 'inst1', 1, 2)} "
        f"WHEN {u} < 0.9 THEN {hash_int_range('slot', 'inst2', 3, 5)} "
        f"ELSE {hash_int_range('slot', 'inst3', 6, 10)} END)"
    )
    # confidence rules (meta_generator.py:42-53, config.json:25-29)
    conf = (
        "(CASE WHEN label = 'TP' AND instances >= 6 THEN 'High' "
        "WHEN label = 'TP' AND instances >= 3 THEN 'Medium' "
        "WHEN label = 'FP' AND instances >= 3 THEN 'Medium' "
        "ELSE 'Low' END)"
    )
    return f"""
      slots AS (
        SELECT doc_id, format, word_count_target,
               CAST(slot_base + j AS BIGINT) AS slot
        FROM (SELECT doc_id, format, word_count_target, slot_base,
                     {explode_j} AS j
              FROM {docs_cte})
      ),
      doc_sits0 AS (
        SELECT doc_id, format, word_count_target, slot,
               {sit_id} AS sit_id
        FROM slots
      ),
      doc_sits1 AS (
        SELECT *, {label} AS label, {inst} AS instances FROM doc_sits0
      ),
      doc_sits AS (
        SELECT *, {sit_name} AS sit_name, {tcs_expr} AS tcs,
               {conf} AS confidence
        FROM doc_sits1
      )
    """


# ---------------------------------------------------------------------------
# SIT value generators (reference content_generator.py:38-175, F7-F16).
# Each returns shared-dialect SQL over the per-slot md5 draws; TP values
# match the catalog regex, FP values are placeholders rejected by
# is_placeholder.


def _digits(key: str, tag: str, n: int) -> str:
    """SQL: exactly-n-digit string (leading zeros allowed) from md5 draws."""
    parts = []
    for c in range(0, n, 4):
        k = min(4, n - c)
        parts.append(
            f"lpad(CAST({hash_u16(key, f'{tag}{c}')} % {10 ** k} AS STRING), {k}, '0')"
        )
    return "concat(" + ", ".join(parts) + ")" if len(parts) > 1 else parts[0]


def _letter(key: str, tag: str) -> str:
    return f"chr(65 + ({hash_u16(key, tag)} % 26))"


def _letter_from(key: str, tag: str, alphabet: str) -> str:
    """One char drawn uniformly from an explicit alphabet (used when a
    pattern's letter class is restricted, e.g. NINO, ICD-10)."""
    return f"substr('{alphabet}', 1 + ({hash_u16(key, tag)} % {len(alphabet)}), 1)"


def _letters(key: str, tag: str, n: int, alphabet: str | None = None) -> str:
    parts = [
        _letter_from(key, f"{tag}{i}", alphabet) if alphabet else _letter(key, f"{tag}{i}")
        for i in range(n)
    ]
    return "concat(" + ", ".join(parts) + ")" if n > 1 else parts[0]


def _nonzero_lead_digits(key: str, tag: str, n: int) -> str:
    """First digit 1-9, then n-1 md5 digits — a \\b-delimited n-digit
    run that can never be the all-zero placeholder shape."""
    head = f"CAST(1 + {hash_u16(key, f'{tag}h')} % 9 AS STRING)"
    return f"concat({head}, {_digits(key, tag, n - 1)})" if n > 1 else head


def iban_bban_sql(key: str = "slot") -> str:
    """16-digit BBAN body, materialized as a column like ccn_body."""
    return _digits(key, "iban", 16)


def ccn_body_sql(key: str = "slot") -> str:
    """15-digit card body '4' + 14 md5 digits; materialized as a column
    so the Luhn expression can reference it by name (a correlated scalar
    subquery would not survive both planners)."""
    return f"concat('4', {_digits(key, 'ccn', 14)})"


def luhn_formatted_sql(body_col: str = "ccn_body") -> str:
    """'#### #### #### ####' grouping with a real Luhn check digit —
    re-derivation of content_generator.py:27-47 as pure SQL arithmetic.
    From the check digit, odd-distance payload digits are doubled.
    """
    terms = []
    for i in range(1, 16):  # 1-based position in the 15-char body
        d = f"CAST(substr({body_col}, {i}, 1) AS INT)"
        if (16 - i) % 2 == 1:
            terms.append(f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)")
        else:
            terms.append(d)
    s = " + ".join(terms)
    return (
        f"concat(substr({body_col}, 1, 4), ' ', substr({body_col}, 5, 4), ' ', "
        f"substr({body_col}, 9, 4), ' ', substr({body_col}, 13, 3), "
        f"CAST((10 - ({s}) % 10) % 10 AS STRING))"
    )


def iban_gb_sql(bban_col: str) -> str:
    """'GB' + real mod-97 check digits + the 16-digit BBAN
    (content_generator.py:50-74 re-derived). The rearranged check string
    is bban + 'GB'→'1611' + '00' = 22 digits; mod 97 computed in two
    11-digit bigint chunks — pure shared-dialect arithmetic, no fold
    needed (DuckDB's list_reduce and Spark's aggregate disagree on the
    init element, so chunking beats a lambda here).
    """
    pre = f"concat({bban_col}, '161100')"  # 16 + 6 = 22 digits
    hi = f"(CAST(substr({pre}, 1, 11) AS BIGINT) % 97)"
    rem = f"((({hi}) * 100000000000 + CAST(substr({pre}, 12, 11) AS BIGINT)) % 97)"
    check = f"lpad(CAST(98 - {rem} AS STRING), 2, '0')"
    return f"concat('GB', {check}, {bban_col})"


def sit_value_chunks(key: str = "slot") -> tuple[list[str], str]:
    """Per-sit TP value (regex-conformant) or FP placeholder
    (content_generator.py:197-206 dispatch, F15/F16), as the TP
    dispatch split into small CASE chunks (NULL for a sit_id outside the
    chunk) plus the FP CASE. One inlined 54-branch dispatch is a single
    expression too large for one generated JVM method (64 KB); the
    generation SQL (operators/generation.py::_gen_ctes) chains the
    chunks as projections and splits the chain around its one exchange,
    so each side compiles under the limit."""
    k = key
    tp = {
        "SIT_CCN": luhn_formatted_sql("ccn_body"),
        "SIT_SSN": (
            f"concat(lpad(CAST(100 + {hash_u16(k, 'ssn1')} % 700 AS STRING), 3, '0'), '-', "
            f"lpad(CAST(10 + {hash_u16(k, 'ssn2')} % 90 AS STRING), 2, '0'), '-', "
            f"{_digits(k, 'ssn3', 4)})"
        ),
        "SIT_IBAN": iban_gb_sql("iban_bban"),
        "SIT_IPV4": (
            f"concat(CAST(1 + {hash_u16(k, 'ip1')} % 223 AS STRING), '.', "
            f"CAST({hash_u16(k, 'ip2')} % 256 AS STRING), '.', "
            f"CAST({hash_u16(k, 'ip3')} % 256 AS STRING), '.', "
            f"CAST(1 + {hash_u16(k, 'ip4')} % 254 AS STRING))"
        ),
        "SIT_EMAIL": f"concat('user', CAST({hash_u16(k, 'em')} AS STRING), '@corp-mail.com')",
        "SIT_PHONE": (
            f"concat(CAST(200 + {hash_u16(k, 'ph1')} % 800 AS STRING), '-', "
            f"lpad(CAST({hash_u16(k, 'ph2')} % 1000 AS STRING), 3, '0'), '-', "
            f"{_digits(k, 'ph3', 4)})"
        ),
        "SIT_ABA": f"concat(CAST({hash_u16(k, 'aba0')} % 4 AS STRING), {_digits(k, 'aba', 8)})",
        "SIT_PASSPORT": f"concat({_letter(k, 'pp')}, {_digits(k, 'ppd', 8)})",
        "SIT_DEA": f"concat({_letter(k, 'dea1')}, {_letter(k, 'dea2')}, {_digits(k, 'dead', 7)})",
        # 8-char BIC half the time, 11-char (branch suffix) otherwise —
        # the reference's SWIFT-8/SWIFT-11 variants in one generator.
        # Letters only: a digit in the tail could seed a \b-digit run.
        "SIT_SWIFT": (
            f"concat({_letters(k, 'sw', 8)}, "
            f"CASE WHEN {hash_u16(k, 'sw11')} % 2 = 0 "
            f"THEN {_letters(k, 'swb', 3)} ELSE '' END)"
        ),
        "SIT_ITIN": (
            f"concat('9', {_digits(k, 'it1', 2)}, '-7', "
            f"CAST({hash_u16(k, 'it2')} % 10 AS STRING), '-', {_digits(k, 'it3', 4)})"
        ),
        "SIT_DATE": (
            f"concat('20', lpad(CAST({hash_u16(k, 'dy')} % 25 AS STRING), 2, '0'), '-', "
            f"lpad(CAST(1 + {hash_u16(k, 'dm')} % 12 AS STRING), 2, '0'), '-', "
            f"lpad(CAST(1 + {hash_u16(k, 'dd')} % 28 AS STRING), 2, '0'))"
        ),
        # label-anchored families: the label keyword is part of the VALUE
        # so the pattern matches wherever the value lands in a document,
        # independent of the surrounding block's sit_name prefix.
        "SIT_PASSPORT_LABELED": (
            f"concat('passport no: ', {_letters(k, 'plb', 3)}, {_nonzero_lead_digits(k, 'pld', 6)})"
        ),
        "SIT_BANK_US": f"concat('account number: ', {_nonzero_lead_digits(k, 'bus', 10)})",
        "SIT_DRIVER_US": (
            "concat('driver license: ', "
            + ", ".join(
                f"{_letter(k, f'dl{i}')}, CAST(1 + {hash_u16(k, f'dld{i}')} % 9 AS STRING)"
                for i in range(4)
            )
            + ")"
        ),
        "SIT_CAN_PHIN": (
            f"concat('phin: ', CAST(7 + {hash_u16(k, 'phh')} % 3 AS STRING), "
            f"{_digits(k, 'phd', 8)})"
        ),
        "SIT_AUS_MEDACC": f"concat('medical account: ', {_nonzero_lead_digits(k, 'mda', 11)})",
        "SIT_CAN_DRIVER": (
            f"concat('permis no: ', {_nonzero_lead_digits(k, 'cdr1', 5)}, '-', {_digits(k, 'cdr2', 5)})"
        ),
        "SIT_AUS_DRIVER": (
            f"concat('driver licence: ', {_letters(k, 'adl', 2)}, "
            f"CAST(10 + {hash_u16(k, 'add')} % 90 AS STRING), {_letters(k, 'adt', 2)})"
        ),
        # lowercase-only token: never collides with any uppercase class
        "SIT_AZURE_SAS": (
            "concat('sig=', "
            + ", ".join(
                f"chr(97 + ({hash_u16(k, f'sas{i}')} % 20))" for i in range(16)
            )
            + ")"
        ),
        # bare, shape-disjoint families
        "SIT_ICD10": (
            f"concat({_letter_from(k, 'i10l', 'ABCDFGHJKL')}, CAST(10 + {hash_u16(k, 'i10d')} % 90 AS STRING), "
            f"'.', CAST({hash_u16(k, 'i10x')} % 10 AS STRING))"
        ),
        "SIT_ICD9": (
            f"concat('E', CAST(100 + {hash_u16(k, 'i9d')} % 900 AS STRING), '.', "
            f"CAST({hash_u16(k, 'i9x')} % 10 AS STRING))"
        ),
        "SIT_UK_NINO": (
            f"concat({_letters(k, 'nin', 2, 'ACEGHJKLMNOPRSTWXYZ')}, "
            f"{_nonzero_lead_digits(k, 'nind', 6)}, {_letter_from(k, 'nint', 'ABCD')})"
        ),
        "SIT_BR_CPF": (
            f"concat({_nonzero_lead_digits(k, 'cpf1', 3)}, '.', {_digits(k, 'cpf2', 3)}, '.', "
            f"{_digits(k, 'cpf3', 3)}, '-', {_digits(k, 'cpf4', 2)})"
        ),
        "SIT_BR_RG": (
            f"concat(CAST(10 + {hash_u16(k, 'rg1')} % 90 AS STRING), '.', {_digits(k, 'rg2', 3)}, '.', "
            f"{_digits(k, 'rg3', 3)}, '-', CAST({hash_u16(k, 'rg4')} % 10 AS STRING))"
        ),
        "SIT_CAN_SIN": (
            f"concat({_nonzero_lead_digits(k, 'sin1', 3)}, '-', {_digits(k, 'sin2', 3)}, '-', "
            f"{_digits(k, 'sin3', 3)})"
        ),
        "SIT_CAN_BANK": _nonzero_lead_digits(k, "cbk", 7),
        "SIT_AUS_TFN": _nonzero_lead_digits(k, "tfn", 8),
        "SIT_CAN_HEALTH": (
            f"concat(CAST(4 + {hash_u16(k, 'chh')} % 3 AS STRING), {_digits(k, 'chd', 8)})"
        ),
        "SIT_FR_INSEE": (
            f"concat(CAST(1 + {hash_u16(k, 'ins')} % 2 AS STRING), {_digits(k, 'insd', 12)})"
        ),
        "SIT_EU_DEBIT": f"concat('6', {_digits(k, 'eud', 15)})",
        "SIT_CAN_PASSPORT": f"concat({_letters(k, 'cpp', 2)}, {_nonzero_lead_digits(k, 'cppd', 6)})",
        "SIT_AUS_PASSPORT": f"concat({_letter(k, 'app')}, {_nonzero_lead_digits(k, 'appd', 7)})",
        "SIT_AUS_BANK": _nonzero_lead_digits(k, "abk", 6),
    }
    fp = {
        "SIT_CCN": "'0000 0000 0000 0000'",
        "SIT_SSN": "'XXX-XX-XXXX'",
        "SIT_IBAN": "'XX00XXXXXXXXXXXXXXXX'",
        "SIT_IPV4": "'999.999.999.999'",
        "SIT_EMAIL": "'xxx@xxx.com'",
        "SIT_PHONE": "'000-000-0000'",
        "SIT_ABA": "'000000000'",
        "SIT_PASSPORT": "'X00000000'",
        "SIT_DEA": "'XX0000000'",
        "SIT_SWIFT": "'XXXXXXXX'",
        "SIT_ITIN": "'9XX-7X-XXXX'",
        "SIT_DATE": "'0000-00-00'",
        "SIT_PASSPORT_LABELED": "'passport no: XXX000000'",
        "SIT_BANK_US": "'account number: 0000000000'",
        "SIT_DRIVER_US": "'driver license: X0X0X0X0'",
        "SIT_CAN_PHIN": "'phin: 000000000'",
        "SIT_AUS_MEDACC": "'medical account: 00000000000'",
        "SIT_CAN_DRIVER": "'permis no: 00000-00000'",
        "SIT_AUS_DRIVER": "'driver licence: XX00XX'",
        "SIT_AZURE_SAS": "'sig=000000000000'",
        "SIT_ICD10": "'X00.0'",
        "SIT_ICD9": "'E000.0'",
        "SIT_UK_NINO": "'XX000000X'",
        "SIT_BR_CPF": "'000.000.000-00'",
        "SIT_BR_RG": "'00.000.000-0'",
        "SIT_CAN_SIN": "'000-000-000'",
        "SIT_CAN_BANK": "'0000000'",
        "SIT_AUS_TFN": "'00000000'",
        "SIT_CAN_HEALTH": "'000000000'",
        "SIT_FR_INSEE": "'0000000000000'",
        "SIT_EU_DEBIT": "'0000000000000000'",
        "SIT_CAN_PASSPORT": "'XX000000'",
        "SIT_AUS_PASSPORT": "'X0000000'",
        "SIT_AUS_BANK": "'000000'",
    }
    # TC SITs: the reference's generic fallback (content_generator.py:
    # 133-138) — TP '<ID_VALUE>', FP 'REDACTED_<id>' (placeholder by the
    # 'redacted' marker). Underscore-joined, so no \b-delimited letter
    # or digit run ever escapes into another SIT's pattern space.
    #
    ids = [sid for sid, *_ in SIT_CATALOG]
    chunk = 6
    tp_chunks = [
        "(CASE sit_id "
        + " ".join(
            f"WHEN '{sid}' THEN " + tp.get(sid, f"'<{sid}_VALUE>'")
            for sid in ids[i:i + chunk]
        )
        + " ELSE NULL END)"
        for i in range(0, len(ids), chunk)
    ]
    fp_whens = " ".join(
        f"WHEN '{sid}' THEN " + fp.get(sid, f"'REDACTED_{sid}'")
        for sid, *_ in SIT_CATALOG
    )
    fp_case = f"(CASE sit_id {fp_whens} ELSE 'REDACTED' END)"
    return tp_chunks, fp_case


def sit_block_sql() -> str:
    """Per-(doc,sit) text block, format-aware — the reference's three
    body builders (content_generator.py:208-234): email formats get a
    per-SIT context line (build_email_body), chat gets three
    timestamped turns with agent/client speaker alternation — ask,
    answer, acknowledge (build_chat_text, CHAT_LINE_TEMPLATE,
    multi-turn per the reference's transcripts), document/pdf get a
    details line (build_document_text). All template prose is lowercase
    and digit-safe (times are 2-digit groups), so no catalog pattern
    can fire on it — the disjointness invariant."""
    vals = "repeat(concat(value, ' | '), instances)"
    t = "'[09:0', CAST(slot % 10 AS STRING), ']'"
    return (
        "(CASE WHEN format IN ('email', 'email_with_attachment') THEN "
        f"concat(sit_name, ': ', {vals}, 'context: related to ', tcs, '.') "
        "WHEN format = 'chat' THEN "
        f"concat({t}, ' agent: please share the ', sit_name, '. ', "
        f"{t}, ' client: the ', sit_name, ' is ', {vals}, 'thanks. ', "
        f"{t}, ' agent: thank you, the ', sit_name, ' has been noted.') "
        "ELSE "
        f"concat(sit_name, ': ', {vals}, 'details: related tcs: ', tcs, '.') "
        "END)"
    )


# Frame/filler prose (operators/generation.py::_rendered_cte) is
# all-lowercase on purpose: uppercase words ≥8 chars would
# false-positive the SWIFT/PASSPORT patterns — the reference's own
# committed run suffers exactly that (validation_report.txt:52).
# The pad is multi-register with per-doc register MIXING rather than
# one repeated token — the reference pads with faker sentences
# (content_generator.py:236-242); distributional fidelity, not byte
# fidelity, is the standard. Each doc walks the 16-word pool with an
# odd per-doc stride (odd ⇒ coprime with 16 ⇒ a full-cycle
# permutation, every word reachable in every register) plus a per-doc
# offset, and sentence length varies 7–10 words per doc — so the
# corpus carries hundreds of distinct sentence forms instead of the 8
# rotations a single fixed-stride/fixed-cadence pad produces.
#
# Two forms of one pad. ``filler_word_sql`` is the word at position i,
# which DuckDB maps over 1..n in a lambda. Spark uses the closed form
# ``filler_pad_sql``: the word index repeats every 16 positions and the
# full stop every 7 + doc % 4, so a doc's pad is periodic with period
# lcm(16, 7 + doc % 4) words and depends on doc only through doc % 16.
# Those 16 period strings are built here, and the pad is the first n
# words of a repeated period — built-in string functions that compile
# into the generated code, instead of one interpreted lambda call per
# padded word.
FILLER_WORDS = [
    "lorem", "ipsum", "dolor", "amet", "tempor", "vitae", "sed", "magna",
    "elit", "nulla", "fusce", "porta", "ornare", "cursus", "neque", "augue",
]


def filler_word_sql(pos: str = "i", doc: str = "doc_id") -> str:
    """One filler word at position ``pos`` of document ``doc`` — pure
    ANSI arithmetic + CASE, identical on both engines. All words stay
    lowercase/short (uppercase ≥8-char tokens would false-positive the
    SWIFT/PASSPORT patterns, see module note)."""
    n = len(FILLER_WORDS)
    idx = f"(({pos}) * (1 + 2 * (({doc}) % 4)) + ({doc})) % {n}"
    slen = f"(7 + (({doc}) % 4))"
    whens = " ".join(
        f"WHEN {k} THEN '{w}'" for k, w in enumerate(FILLER_WORDS[:-1])
    )
    return (
        f"concat(CASE {idx} {whens} "
        f"ELSE '{FILLER_WORDS[-1]}' END, "
        f"CASE WHEN ({pos}) % {slen} = {slen} - 1 THEN '.' ELSE '' END)"
    )


def _filler_period(doc: int) -> list[str]:
    """Words 1..L of doc's pad, L = lcm(16, 7 + doc % 4) — the Python
    twin of ``filler_word_sql`` over one period."""
    n = len(FILLER_WORDS)
    slen = 7 + doc % 4
    return [
        FILLER_WORDS[(i * (1 + 2 * (doc % 4)) + doc) % n]
        + ("." if i % slen == slen - 1 else "")
        for i in range(1, math.lcm(n, slen) + 1)
    ]


def filler_pad_sql(n: str, doc: str = "doc_id") -> str:
    """The first ``n`` words of doc's pad joined by single spaces, in
    closed form (see the note above ``FILLER_WORDS``): the doc's period
    string, each word followed by one space, repeated ceil(n / L) times
    and cut before its n-th space. Equals ``filler_word_sql`` mapped
    over positions 1..n and space-joined."""
    m = len(FILLER_WORDS)
    periods = [_filler_period(r) for r in range(m)]
    text = (
        f"CASE ({doc}) % {m} "
        + " ".join(f"WHEN {r} THEN '{' '.join(p)} '" for r, p in enumerate(periods))
        + " END"
    )
    # L depends on doc % 4 only; residues 0..3 cover all four lengths
    period_len = (
        f"CASE ({doc}) % 4 "
        + " ".join(f"WHEN {r} THEN {len(periods[r])}" for r in range(4))
        + " END"
    )
    return (
        f"substring_index(repeat({text}, "
        f"CAST(ceil(({n}) / {period_len}) AS INT)), ' ', {n})"
    )
