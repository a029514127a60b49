"""Synthetic-document generation — the reference's stage 1+2
(modules/meta_generator.py, modules/content_generator.py) re-designed
for distributed execution.

Two semantic redesigns vs the reference (SURVEY.md §4.3.1-2):

1. **Counter-mode randomness.** The reference threads one sequential
   PRNG (``random.seed(42)`` at meta_generator.py:64) through every
   draw; a cluster cannot reproduce a sequential stream. Every draw
   here is ``md5(key:tag)`` arithmetic — a pure per-row function,
   identical under any partitioning and in any engine, so generation
   itself is oracle-checked. Outputs are distributionally (not byte-)
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

One specification, two implementations:

- Spark runs ``generate_doc``, a per-document kernel, as one Arrow
  pandas UDF (``sdp_gen_doc``, registered by ``register_kernel``) over
  ``range(0, n_docs)``: each document is a few dozen md5 draws and
  string joins, one narrow map with no exchange. Asked to (``scan``),
  the kernel also scans its own text: each slot of a scanned SIT
  carries the validator's matches (``real_matches``), so the report
  needs no second pass. Consumers that drop the matches do not ask.
- DuckDB runs the SQL builders below (``docs_sql``, ``doc_sits_sql``,
  ``sit_value_sql``, ``sit_block_sql``, ``filler_word_sql``) as the
  oracle (operators/generation.py), so oracle parity compares two
  independent implementations.

Both read the same literal tables — the catalog, ``CYCLE``, the
word-target and instance buckets, the TP value recipes
(``TP_PARTS``), the FP placeholders, the block and frame templates and
the filler pool — so only the control flow is written twice.
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass
from typing import NamedTuple

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.xsql import hash_int_range, hash_u16, hash_unit
from ..plans.catalog import SIT_CATALOG, SIT_PATTERNS, real_matches

# 20-doc cycle of SIT counts: realizes 30% singles, 30% two-to-three,
# 30% four-to-six, 10% seven-plus (config.json:13-18) exactly per cycle.
CYCLE = [1, 2, 4, 1, 3, 5, 7, 1, 2, 6, 1, 3, 4, 1, 2, 5, 10, 1, 3, 6]
CYCLE_PREFIX = [sum(CYCLE[:i]) for i in range(len(CYCLE))]
CYCLE_SUM = sum(CYCLE)  # 68 slots per 20 docs

FORMATS = ["email", "chat", "document", "pdf", "email_with_attachment"]

# word target: 65% in 500-1500, else 300-4000 (config.json:6-12)
WORD_TARGET = (0.65, (500, 1500), (300, 4000))
# instance buckets (cumulative probability, lo, hi): 1-2 @60%, 3-5 @30%,
# 6-10 @10% (shape of config.json:19-24, bounded to keep docs small)
INSTANCE_BUCKETS = ((0.6, 1, 2), (0.9, 3, 5), (1.0, 6, 10))


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


def _u16(key: int, tag: str) -> int:
    """The kernel's draw: ``hash_u16``'s value, in [0, 65535]."""
    return int(hashlib.md5(f"{key}:{tag}".encode()).hexdigest()[:4], 16)


def _lit(s: str) -> str:
    """SQL string literal; a newline becomes chr(10), since Spark reads
    backslash escapes in literals and standard SQL does not."""
    pieces = [f"'{p}'" for p in s.replace("'", "''").split("\n")]
    return pieces[0] if len(pieces) == 1 else f"concat({', chr(10), '.join(pieces)})"


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
    p, r1, r2 = WORD_TARGET
    wct = (
        f"(CASE WHEN {hash_unit('doc_id', 'wsel')} < {p} "
        f"THEN {hash_int_range('doc_id', 'wct1', *r1)} "
        f"ELSE {hash_int_range('doc_id', 'wct2', *r2)} END)"
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


def _tc_list(tcs: list[str]) -> str:
    """Lowercase comma-joined TC list, used by the template context
    lines — lowercase so no uppercase-class pattern can ever fire on
    template prose (the disjointness invariant, plans/catalog.py)."""
    return ", ".join(t.lower() for t in tcs)


def slot_attrs_sql() -> str:
    """sit_name, tcs and confidence of a (sit_id, label, instances) row:
    catalog lookups and the confidence rules (meta_generator.py:42-53,
    config.json:25-29). Both engines derive them in SQL."""
    *head, last = SIT_CATALOG
    name_whens = " ".join(f"WHEN '{sid}' THEN '{name}'" for sid, name, *_r in head)
    tcs_whens = " ".join(
        f"WHEN '{sid}' THEN '{_tc_list(tcs)}'" for sid, _n, _rx, tcs in head
    )
    return (
        f"(CASE sit_id {name_whens} ELSE '{last[1]}' END) AS sit_name, "
        f"(CASE sit_id {tcs_whens} ELSE '{_tc_list(last[3])}' END) AS tcs, "
        "(CASE WHEN label = 'TP' AND instances >= 6 THEN 'High' "
        "WHEN label = 'TP' AND instances >= 3 THEN 'Medium' "
        "WHEN label = 'FP' AND instances >= 3 THEN 'Medium' "
        "ELSE 'Low' END) AS confidence"
    )


def doc_sits_sql(cfg: GenConfig, docs_cte: str, explode_j: str) -> str:
    """One row per (doc, sit-slot). ``explode_j`` is the dialect's
    per-row 0..sit_count-1 generator expression aliased ``j``."""
    sit_whens = " ".join(
        f"WHEN {i} THEN '{sid}'" for i, (sid, *_rest) in enumerate(SIT_CATALOG[:-1])
    )
    sit_id = f"(CASE (slot % {cfg.n_sits}) {sit_whens} ELSE '{SIT_CATALOG[-1][0]}' END)"
    label = (
        f"(CASE WHEN {hash_unit('slot', 'label')} < {cfg.tp_ratio} "
        f"THEN 'TP' ELSE 'FP' END)"
    )
    u = hash_unit("slot", "instsel")
    *head, (_p, lo, hi) = INSTANCE_BUCKETS
    inst = (
        "(CASE "
        + " ".join(
            f"WHEN {u} < {p} THEN {hash_int_range('slot', f'inst{i}', lo_i, hi_i)}"
            for i, (p, lo_i, hi_i) in enumerate(head, 1)
        )
        + f" ELSE {hash_int_range('slot', f'inst{len(INSTANCE_BUCKETS)}', lo, hi)} END)"
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
        SELECT *, {slot_attrs_sql()} FROM doc_sits1
      )
    """


# ---------------------------------------------------------------------------
# SIT value generators (reference content_generator.py:38-175, F7-F16).
# A TP value is a recipe: literal strings and md5 draws, concatenated.
# Each draw renders as shared-dialect SQL (``sql``) and as the kernel's
# Python (``py``); TP values match the catalog regex, FP values are
# placeholders rejected by is_placeholder.

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


class _Num(NamedTuple):
    """``add + u16(key, tag) % mod`` in decimal, '0'-padded to ``pad``."""

    tag: str
    mod: int
    add: int = 0
    pad: int = 0

    def sql(self, key: str) -> str:
        s = f"CAST({self.add} + {hash_u16(key, self.tag)} % {self.mod} AS STRING)"
        return f"lpad({s}, {self.pad}, '0')" if self.pad else s

    def py(self, key: int) -> str:
        return str(self.add + _u16(key, self.tag) % self.mod).rjust(self.pad, "0")


class _Pick(NamedTuple):
    """One character of ``alphabet``, drawn uniformly."""

    tag: str
    alphabet: str = _UPPER

    def sql(self, key: str) -> str:
        n = len(self.alphabet)
        return f"substr('{self.alphabet}', 1 + ({hash_u16(key, self.tag)} % {n}), 1)"

    def py(self, key: int) -> str:
        return self.alphabet[_u16(key, self.tag) % len(self.alphabet)]


class _Maybe(NamedTuple):
    """``parts`` when the draw is even, else ''."""

    tag: str
    parts: tuple

    def sql(self, key: str) -> str:
        return (
            f"(CASE WHEN {hash_u16(key, self.tag)} % 2 = 0 "
            f"THEN {concat_sql(self.parts, key)} ELSE '' END)"
        )

    def py(self, key: int) -> str:
        return concat_py(self.parts, key) if _u16(key, self.tag) % 2 == 0 else ""


def concat_sql(parts, key: str = "slot") -> str:
    """A recipe as SQL, drawing on column ``key``."""
    items = [_lit(p) if isinstance(p, str) else p.sql(key) for p in parts]
    return items[0] if len(items) == 1 else f"concat({', '.join(items)})"


def concat_py(parts, key: int) -> str:
    """A recipe's value for the row key ``key``."""
    return "".join(p if isinstance(p, str) else p.py(key) for p in parts)


def _digits(tag: str, n: int) -> list:
    """Exactly n digits (leading zeros allowed), ≤4 per draw."""
    return [
        _Num(f"{tag}{c}", 10 ** min(4, n - c), pad=min(4, n - c))
        for c in range(0, n, 4)
    ]


def _letters(tag: str, n: int, alphabet: str = _UPPER) -> list:
    return [_Pick(f"{tag}{i}", alphabet) for i in range(n)]


def _nonzero_lead(tag: str, n: int) -> list:
    """First digit 1-9, then n-1 digits — a \\b-delimited n-digit run
    that can never be the all-zero placeholder shape."""
    return [_Num(f"{tag}h", 9, 1), *_digits(tag, n - 1)]


# The two check-digit SITs draw a digit body; the check rule reads it
# digit by digit, so the SQL materializes each body as a column.
CCN_BODY = ["4", *_digits("ccn", 14)]  # 15-digit card body
IBAN_BBAN = _digits("iban", 16)

TP_PARTS = {
    "SIT_SSN": [_Num("ssn1", 700, 100, 3), "-", _Num("ssn2", 90, 10, 2), "-",
                *_digits("ssn3", 4)],
    "SIT_IPV4": [_Num("ip1", 223, 1), ".", _Num("ip2", 256), ".",
                 _Num("ip3", 256), ".", _Num("ip4", 254, 1)],
    "SIT_EMAIL": ["user", _Num("em", 65536), "@corp-mail.com"],
    "SIT_PHONE": [_Num("ph1", 800, 200), "-", _Num("ph2", 1000, pad=3), "-",
                  *_digits("ph3", 4)],
    "SIT_ABA": [_Num("aba0", 4), *_digits("aba", 8)],
    "SIT_PASSPORT": [_Pick("pp"), *_digits("ppd", 8)],
    "SIT_DEA": [_Pick("dea1"), _Pick("dea2"), *_digits("dead", 7)],
    # 8-char BIC half the time, 11-char (branch suffix) otherwise —
    # the reference's SWIFT-8/SWIFT-11 variants in one generator.
    # Letters only: a digit in the tail could seed a \b-digit run.
    "SIT_SWIFT": [*_letters("sw", 8), _Maybe("sw11", tuple(_letters("swb", 3)))],
    "SIT_ITIN": ["9", *_digits("it1", 2), "-7", _Num("it2", 10), "-",
                 *_digits("it3", 4)],
    "SIT_DATE": ["20", _Num("dy", 25, pad=2), "-", _Num("dm", 12, 1, 2), "-",
                 _Num("dd", 28, 1, 2)],
    # label-anchored families: the label keyword is part of the VALUE
    # so the pattern matches wherever the value lands in a document,
    # independent of the surrounding block's sit_name prefix.
    "SIT_PASSPORT_LABELED": ["passport no: ", *_letters("plb", 3),
                             *_nonzero_lead("pld", 6)],
    "SIT_BANK_US": ["account number: ", *_nonzero_lead("bus", 10)],
    "SIT_DRIVER_US": ["driver license: ", *(
        p for i in range(4) for p in (_Pick(f"dl{i}"), _Num(f"dld{i}", 9, 1))
    )],
    "SIT_CAN_PHIN": ["phin: ", _Num("phh", 3, 7), *_digits("phd", 8)],
    "SIT_AUS_MEDACC": ["medical account: ", *_nonzero_lead("mda", 11)],
    "SIT_CAN_DRIVER": ["permis no: ", *_nonzero_lead("cdr1", 5), "-",
                       *_digits("cdr2", 5)],
    "SIT_AUS_DRIVER": ["driver licence: ", *_letters("adl", 2),
                       _Num("add", 90, 10), *_letters("adt", 2)],
    # lowercase-only token: never collides with any uppercase class
    "SIT_AZURE_SAS": ["sig=", *_letters("sas", 16, "abcdefghijklmnopqrst")],
    # bare, shape-disjoint families
    "SIT_ICD10": [_Pick("i10l", "ABCDFGHJKL"), _Num("i10d", 90, 10), ".",
                  _Num("i10x", 10)],
    "SIT_ICD9": ["E", _Num("i9d", 900, 100), ".", _Num("i9x", 10)],
    "SIT_UK_NINO": [*_letters("nin", 2, "ACEGHJKLMNOPRSTWXYZ"),
                    *_nonzero_lead("nind", 6), _Pick("nint", "ABCD")],
    "SIT_BR_CPF": [*_nonzero_lead("cpf1", 3), ".", *_digits("cpf2", 3), ".",
                   *_digits("cpf3", 3), "-", *_digits("cpf4", 2)],
    "SIT_BR_RG": [_Num("rg1", 90, 10), ".", *_digits("rg2", 3), ".",
                  *_digits("rg3", 3), "-", _Num("rg4", 10)],
    "SIT_CAN_SIN": [*_nonzero_lead("sin1", 3), "-", *_digits("sin2", 3), "-",
                    *_digits("sin3", 3)],
    "SIT_CAN_BANK": _nonzero_lead("cbk", 7),
    "SIT_AUS_TFN": _nonzero_lead("tfn", 8),
    "SIT_CAN_HEALTH": [_Num("chh", 3, 4), *_digits("chd", 8)],
    "SIT_FR_INSEE": [_Num("ins", 2, 1), *_digits("insd", 12)],
    "SIT_EU_DEBIT": ["6", *_digits("eud", 15)],
    "SIT_CAN_PASSPORT": [*_letters("cpp", 2), *_nonzero_lead("cppd", 6)],
    "SIT_AUS_PASSPORT": [_Pick("app"), *_nonzero_lead("appd", 7)],
    "SIT_AUS_BANK": _nonzero_lead("abk", 6),
}

FP_VALUES = {
    "SIT_CCN": "0000 0000 0000 0000",
    "SIT_SSN": "XXX-XX-XXXX",
    "SIT_IBAN": "XX00XXXXXXXXXXXXXXXX",
    "SIT_IPV4": "999.999.999.999",
    "SIT_EMAIL": "xxx@xxx.com",
    "SIT_PHONE": "000-000-0000",
    "SIT_ABA": "000000000",
    "SIT_PASSPORT": "X00000000",
    "SIT_DEA": "XX0000000",
    "SIT_SWIFT": "XXXXXXXX",
    "SIT_ITIN": "9XX-7X-XXXX",
    "SIT_DATE": "0000-00-00",
    "SIT_PASSPORT_LABELED": "passport no: XXX000000",
    "SIT_BANK_US": "account number: 0000000000",
    "SIT_DRIVER_US": "driver license: X0X0X0X0",
    "SIT_CAN_PHIN": "phin: 000000000",
    "SIT_AUS_MEDACC": "medical account: 00000000000",
    "SIT_CAN_DRIVER": "permis no: 00000-00000",
    "SIT_AUS_DRIVER": "driver licence: XX00XX",
    "SIT_AZURE_SAS": "sig=000000000000",
    "SIT_ICD10": "X00.0",
    "SIT_ICD9": "E000.0",
    "SIT_UK_NINO": "XX000000X",
    "SIT_BR_CPF": "000.000.000-00",
    "SIT_BR_RG": "00.000.000-0",
    "SIT_CAN_SIN": "000-000-000",
    "SIT_CAN_BANK": "0000000",
    "SIT_AUS_TFN": "00000000",
    "SIT_CAN_HEALTH": "000000000",
    "SIT_FR_INSEE": "0000000000000",
    "SIT_EU_DEBIT": "0000000000000000",
    "SIT_CAN_PASSPORT": "XX000000",
    "SIT_AUS_PASSPORT": "X0000000",
    "SIT_AUS_BANK": "000000",
}


# TC SITs: the reference's generic fallback (content_generator.py:
# 133-138) — TP '<ID_VALUE>', FP 'REDACTED_<id>' (placeholder by the
# 'redacted' marker). Underscore-joined, so no \b-delimited letter or
# digit run ever escapes into another SIT's pattern space.
def _tc_tp(sid: str) -> str:
    return f"<{sid}_VALUE>"


def _fp_value(sid: str) -> str:
    return FP_VALUES.get(sid, f"REDACTED_{sid}")


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


def _luhn_formatted(body: str) -> str:
    s = sum(
        (2 * int(c) - 9 if 2 * int(c) > 9 else 2 * int(c)) if (16 - i) % 2 else int(c)
        for i, c in enumerate(body, 1)
    )
    return f"{body[:4]} {body[4:8]} {body[8:12]} {body[12:]}{(10 - s % 10) % 10}"


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


def sit_value_sql(key: str = "slot") -> str:
    """Per-sit TP value (regex-conformant) or FP placeholder
    (content_generator.py:197-206 dispatch, F15/F16) as one CASE over
    ``sit_id`` and ``label``; reads the ``ccn_body``/``iban_bban``
    columns for the two check-digit SITs."""
    tp = {sid: concat_sql(parts, key) for sid, parts in TP_PARTS.items()}
    tp["SIT_CCN"] = luhn_formatted_sql("ccn_body")
    tp["SIT_IBAN"] = iban_gb_sql("iban_bban")
    ids = [sid for sid, *_ in SIT_CATALOG]
    tp_whens = " ".join(f"WHEN '{s}' THEN {tp.get(s, _lit(_tc_tp(s)))}" for s in ids)
    fp_whens = " ".join(f"WHEN '{s}' THEN {_lit(_fp_value(s))}" for s in ids)
    return (
        f"(CASE WHEN label = 'TP' THEN (CASE sit_id {tp_whens} ELSE '?' END) "
        f"ELSE (CASE sit_id {fp_whens} ELSE 'REDACTED' END) END)"
    )


def _sit_value(sid: str, label: str, slot: int) -> str:
    if label != "TP":
        return _fp_value(sid)
    if sid == "SIT_CCN":
        return _luhn_formatted(concat_py(CCN_BODY, slot))
    if sid == "SIT_IBAN":
        bban = concat_py(IBAN_BBAN, slot)
        return f"GB{98 - int(bban + '161100') % 97:02d}{bban}"
    parts = TP_PARTS.get(sid)
    return concat_py(parts, slot) if parts else _tc_tp(sid)


# Per-(doc,sit) text block, format-aware — the reference's three body
# builders (content_generator.py:208-234): email formats get a per-SIT
# context line (build_email_body), chat gets three timestamped turns
# with agent/client speaker alternation — ask, answer, acknowledge
# (build_chat_text, CHAT_LINE_TEMPLATE, multi-turn per the reference's
# transcripts), document/pdf (and any other format) get a details line
# (build_document_text). {vals} is the value and ' | ', repeated
# ``instances`` times; {t} is slot % 10. All template prose is
# lowercase and digit-safe (times are 2-digit groups), so no catalog
# pattern can fire on it — the disjointness invariant.
_EMAIL_BLOCK = "{name}: {vals}context: related to {tcs}."
BLOCKS = {
    "email": _EMAIL_BLOCK,
    "email_with_attachment": _EMAIL_BLOCK,
    "chat": (
        "[09:0{t}] agent: please share the {name}. "
        "[09:0{t}] client: the {name} is {vals}thanks. "
        "[09:0{t}] agent: thank you, the {name} has been noted."
    ),
    "document": "{name}: {vals}details: related tcs: {tcs}.",
}

# Per-format frame around the ordered SIT blocks (content_generator.py:
# 275-303's per-format dispatch): one (header, footer) pair per
# template variant, u16(doc_id, 'tmplv') % 2 — the reference ships two
# templates per format (templates/email_templates.md 'Formal Invoice
# Email' / 'Short Notification', doc_templates.md 'Employee Record' /
# 'Financial Statement', chat_templates.md 'Support Chat' / 'Quick
# Exchange'). {d} is the doc id, always letter-prefixed ('d123') so no
# \b-delimited digit run can reach another SIT's pattern space; the
# attachment email names its own attachment (content_generator.py:
# 208-234). Frame and filler prose is all-lowercase on purpose:
# uppercase words ≥8 chars would false-positive the SWIFT/PASSPORT
# patterns — the reference's own committed run suffers exactly that
# (validation_report.txt:52).
_MAIL_HEAD = "from: records-desk at corp-mail to: billing-team at corp-mail subject: "
_ATTACHED = (
    _MAIL_HEAD + "see attached report-d{d}.xlsx",
    "attached: report-d{d}.xlsx regards, records-desk",
)
FRAMES = {
    "email": (
        (_MAIL_HEAD + "invoice payment details",
         "if you need anything else, please let me know. best regards, records-desk"),
        (_MAIL_HEAD + "payment confirmation", "thanks, records-desk"),
    ),
    "email_with_attachment": (_ATTACHED, _ATTACHED),
    "chat": (
        ("support chat transcript follows", "end of chat"),
        ("quick exchange transcript follows", "end of chat"),
    ),
    "document": (
        ("confidential - employee record d{d}",
         "approved by: records-desk end of record"),
        ("financial statement - confidential d{d}",
         "summary: see details above end of record"),
    ),
}
# a real blank line between frame, body and footer (multi-paragraph
# register; space-padded so ' '-tokenizing stays stable on both engines)
PARA_BREAK = " \n\n "


def template_sql(template: str, exprs: dict[str, str]) -> str:
    """A BLOCKS/FRAMES template as SQL: literal text and the ``exprs``
    of its {name} fields, concatenated."""
    parts = re.split(r"\{(\w+)\}", template)
    return "concat(" + ", ".join(
        exprs[p] if i % 2 else _lit(p) for i, p in enumerate(parts) if p or i % 2
    ) + ")"


def sit_block_sql() -> str:
    """The BLOCKS template of the row's format, as SQL."""
    fields = {
        "name": "sit_name",
        "tcs": "tcs",
        "vals": "repeat(concat(value, ' | '), instances)",
        "t": "CAST(slot % 10 AS STRING)",
    }
    whens = " ".join(
        f"WHEN '{f}' THEN {template_sql(t, fields)}"
        for f, t in BLOCKS.items() if f != "document"
    )
    return f"(CASE format {whens} ELSE {template_sql(BLOCKS['document'], fields)} END)"


# The filler pad is multi-register with per-doc register MIXING rather
# than one repeated token — the reference pads with faker sentences
# (content_generator.py:236-242); distributional fidelity, not byte
# fidelity, is the standard. Each doc walks the 16-word pool with an
# odd per-doc stride (odd ⇒ coprime with 16 ⇒ a full-cycle
# permutation, every word reachable in every register) plus a per-doc
# offset, and sentence length varies 7–10 words per doc — so the
# corpus carries hundreds of distinct sentence forms instead of the 8
# rotations a single fixed-stride/fixed-cadence pad produces.
#
# Two forms of one pad: DuckDB maps ``filler_word_sql`` (the word at
# position i) over positions 1..n in a lambda; the kernel repeats the
# doc's period (``_filler_period``) — the word index repeats every 16
# positions and the full stop every 7 + doc % 4.
FILLER_WORDS = [
    "lorem", "ipsum", "dolor", "amet", "tempor", "vitae", "sed", "magna",
    "elit", "nulla", "fusce", "porta", "ornare", "cursus", "neque", "augue",
]


def filler_word_sql(pos: str = "i", doc: str = "doc_id") -> str:
    """One filler word at position ``pos`` of document ``doc`` — pure
    ANSI arithmetic + CASE. All words stay lowercase/short (uppercase
    ≥8-char tokens would false-positive the SWIFT/PASSPORT patterns,
    see the frame note)."""
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


def filler_pad(doc: int, n: int) -> str:
    """The first ``n`` words of doc's pad, space-joined."""
    period = _filler_period(doc)
    return " ".join(period[i % len(period)] for i in range(n))


def generate_doc(doc_id: int, cfg: GenConfig = DEFAULT_CONFIG, scan: bool = True):
    """One document, as the generation SQL derives it: ``(format,
    word_count_target, text, slots)``, each slot ``(slot, sit_id,
    label, instances, value, ms)`` in slot order, where ``ms`` is the
    slot SIT's ``real_matches`` in ``text`` (None for the unscanned TC
    SITs, and for every slot when ``scan`` is false: a consumer that
    drops ``ms`` need not pay for the scan). The kernel Spark runs."""
    fmt = cfg.formats[_u16(doc_id, "fmt") % len(cfg.formats)]
    p, (lo1, hi1), (lo2, hi2) = WORD_TARGET
    if _u16(doc_id, "wsel") / 65536.0 < p:
        target = lo1 + _u16(doc_id, "wct1") % (hi1 - lo1 + 1)
    else:
        target = lo2 + _u16(doc_id, "wct2") % (hi2 - lo2 + 1)
    q, r = divmod(doc_id, len(CYCLE))
    base = q * CYCLE_SUM + CYCLE_PREFIX[r]
    block = BLOCKS.get(fmt, BLOCKS["document"])
    slots, blocks = [], []
    for slot in range(base, base + CYCLE[r]):
        sid, name, _rx, tcs = SIT_CATALOG[min(slot % cfg.n_sits, len(SIT_CATALOG) - 1)]
        label = "TP" if _u16(slot, "label") / 65536.0 < cfg.tp_ratio else "FP"
        u = _u16(slot, "instsel") / 65536.0
        i, (_p, lo, hi) = next(
            (i, b) for i, b in enumerate(INSTANCE_BUCKETS, 1) if u < b[0]
        )
        instances = lo + _u16(slot, f"inst{i}") % (hi - lo + 1)
        value = _sit_value(sid, label, slot)
        slots.append((slot, sid, label, instances, value))
        blocks.append(block.format(
            name=name, tcs=_tc_list(tcs), vals=(value + " | ") * instances,
            t=slot % 10,
        ))
    body = " ".join(blocks)
    variant = FRAMES.get(fmt, FRAMES["document"])[_u16(doc_id, "tmplv") % 2]
    head, foot = (s.replace("{d}", str(doc_id)) for s in variant)
    pad = filler_pad(doc_id, max(target - len(body.split(" ")), 0))
    text = f"{head}{PARA_BREAK}{body}{PARA_BREAK}{foot} {pad}"
    slots = [
        (*s, real_matches(s[1], text) if scan and s[1] in SIT_PATTERNS else None)
        for s in slots
    ]
    return fmt, target, text, slots


KERNEL = "sdp_gen_doc"


def _struct(**fields) -> StructType:
    return StructType([StructField(k, t) for k, t in fields.items()])


@pandas_udf(_struct(
    format=StringType(), word_count_target=IntegerType(), text=StringType(),
    slots=ArrayType(_struct(
        slot=LongType(), sit_id=StringType(), label=StringType(),
        instances=IntegerType(), value=StringType(),
        ms=ArrayType(StringType()),
    )),
))
def _gen_doc_udf(
    doc_id: pd.Series, tp_ratio: pd.Series, n_sits: pd.Series, formats: pd.Series,
    scan: pd.Series,
) -> pd.DataFrame:
    return pd.DataFrame(
        [
            generate_doc(int(d), GenConfig(
                tp_ratio=float(t), n_sits=int(n), formats=tuple(f.split(","))
            ), bool(s))
            for d, t, n, f, s in zip(doc_id, tp_ratio, n_sits, formats, scan)
        ],
        columns=["format", "word_count_target", "text", "slots"],
    )


def kernel_call_sql(cfg: GenConfig, scan: bool, doc_id: str = "id") -> str:
    """The SQL call of the kernel for ``cfg`` on column ``doc_id``;
    ``scan`` (a literal) says whether the slots carry ``ms``."""
    return (
        f"{KERNEL}({doc_id}, {cfg.tp_ratio!r}D, {cfg.n_sits}, "
        f"'{','.join(cfg.formats)}', {str(scan).lower()})"
    )


def register_kernel(spark) -> None:
    """Register the kernel as ``sdp_gen_doc`` in ``spark``. A temporary
    function belongs to one session, so every Spark generation entry
    point calls this (idempotent, no Spark job): it keeps sessions the
    package did not build, ``spark.newSession()`` among them, working."""
    spark.udf.register(KERNEL, _gen_doc_udf)
