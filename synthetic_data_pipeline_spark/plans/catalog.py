"""SIT (Sensitive Information Type) catalog — config-as-data.

The reference ships 50 SIT definitions ``{id, name, regex, tc}`` in
config.json:30-237, loaded at modules/meta_generator.py:55-57 and
compiled per-run at modules/validator.py:42-54. The engine's catalog is
a small code table (SURVEY.md §1.1) that the generation and scan SQL
is built from.

Patterns here are re-authored, not copied: each is normalized to be
semantically identical under Python ``re`` (with ``re.ASCII``), Java
``java.util.regex`` (Spark's rlike / regexp_extract_all) and RE2
(DuckDB) — flags hoisted to a literal prefix, no lookbehind (SURVEY.md
§4.3.3 portability trap).

The placeholder predicate exists in three forms over one spec: a Spark
Column (``is_placeholder``), DuckDB SQL text (``is_placeholder_duckdb``)
and Python (``is_placeholder_py``, used by the Spark generation scan
beside ``SIT_PATTERNS``).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

# (sit_id, name, regex, tcs). Regexes are engine-portable: no lookaround,
# no mid-pattern flags (a leading (?i) prefix is the one flag form all
# three engines accept identically), no backreferences (RE2 has none of
# these). TC ("trainable classifier") SITs carry an empty regex — they
# are generated and counted in metadata but, like the reference
# (modules/validator.py:42-54 skips uncompilable/empty patterns), never
# regex-validated.
#
# DESIGN INVARIANT — pairwise disjointness: no SIT's regex may produce a
# non-placeholder match on any OTHER SIT's generated value as it appears
# in rendered text ("<sit name>: <value> | ..."). The reference fails
# this wholesale (its own committed validation_report.txt flags SWIFT on
# prose and SSN on nothing); here it is engineered:
#   * bare 9-digit SITs split the leading-digit space: ABA [0-3],
#     CA health [4-6], PHIN [7-9];
#   * bare fixed-length digit runs use distinct lengths (6/7/8/13/16)
#     and \b on both ends, so no run nests in another;
#   * label-anchored SITs embed the label IN the generated value, with
#     mutually distinct keywords (and a mandatory no/number token where
#     a keyword is a substring of another SIT's display name);
#   * ICD-9 is restricted to E-codes (letter-prefixed) because the bare
#     \d{3}(\.\d{1,2})? form matches fragments of almost everything;
#   * SAS tokens are lowercase-only so no uppercase pattern ever fires;
#   * every FP value is placeholder-shaped (zeros / XXX), so even a
#     pattern hit is filtered by is_placeholder on every SIT.
# tests/test_generation.py::test_catalog_pairwise_disjoint pins this.
SIT_CATALOG: list[tuple[str, str, str, list[str]]] = [
    ("SIT_CCN", "Credit Card Number", r"\b(?:4\d{3}|5[1-5]\d{2})[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", ["Finance"]),
    ("SIT_SSN", "US Social Security Number", r"\b[0-8]\d{2}-\d{2}-\d{4}\b", ["HR", "Tax"]),
    ("SIT_IBAN", "IBAN", r"\b[A-Z]{2}\d{2}[A-Z0-9]{12,30}\b", ["Finance"]),
    ("SIT_IPV4", "IPv4 Address", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", ["Network"]),
    ("SIT_EMAIL", "Email Address", r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b", ["Contact"]),
    ("SIT_PHONE", "US Phone Number", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", ["Contact"]),
    ("SIT_ABA", "ABA Routing Number", r"\b[0-3]\d{8}\b", ["Finance"]),
    ("SIT_PASSPORT", "US Passport Number", r"\b[A-Z]\d{8}\b", ["Travel"]),
    ("SIT_DEA", "DEA Number", r"\b[A-Z]{2}\d{7}\b", ["Health"]),
    ("SIT_SWIFT", "SWIFT Code", r"\b[A-Z]{4}[A-Z]{2}[A-Z0-9]{2}(?:[A-Z0-9]{3})?\b", ["Finance"]),
    ("SIT_ITIN", "US ITIN", r"\b9\d{2}-[78]\d-\d{4}\b", ["Tax"]),
    ("SIT_DATE", "ISO Date", r"\b\d{4}-\d{2}-\d{2}\b", ["General"]),
    # --- label-anchored families (value embeds the label keyword) ---
    ("SIT_PASSPORT_LABELED", "US-UK Passport Number", r"(?i)passport (?:no|number)[: ]+[A-Z]{3}\d{6}\b", ["Travel", "HR"]),
    ("SIT_BANK_US", "US Bank Account Number", r"(?i)(?:account (?:no|number)|acct)[: ]+\d{10}\b", ["Finance"]),
    ("SIT_DRIVER_US", "US Drivers License Number", r"(?i)driver license[: ]+(?:[A-Z]\d){4}\b", ["HR"]),
    ("SIT_CAN_PHIN", "Canada PHIN", r"(?i)phin[: ]+[7-9]\d{8}\b", ["Health"]),
    ("SIT_AUS_MEDACC", "Australia Medical Account Number", r"(?i)medical account[: ]+\d{11}\b", ["Health"]),
    ("SIT_CAN_DRIVER", "Canada Drivers Permit Number", r"(?i)permis no[: ]+\d{5}-\d{5}\b", ["HR"]),
    ("SIT_AUS_DRIVER", "Australia Drivers Licence Number", r"(?i)driver licence[: ]+[A-Z]{2}\d{2}[A-Z]{2}\b", ["HR"]),
    ("SIT_AZURE_SAS", "Azure SAS Token", r"sig=[a-z0-9%]{12,}", ["IP"]),
    # --- bare patterns with engineered-disjoint shapes ---
    ("SIT_ICD10", "ICD-10-CM Code", r"\b[A-TV-Z]\d{2}(?:\.[0-9A-TV-Z]{1,4})?\b", ["Health"]),
    ("SIT_ICD9", "ICD-9-CM E-Code", r"\bE\d{3}(?:\.\d{1,2})?\b", ["Health"]),
    ("SIT_UK_NINO", "UK National Insurance Number", r"\b[A-CEGHJ-PR-TW-Z]{2}\d{6}[A-D]\b", ["HR", "Tax"]),
    ("SIT_BR_CPF", "Brazil CPF Number", r"\b\d{3}\.\d{3}\.\d{3}-\d{2}\b", ["HR", "Tax"]),
    ("SIT_BR_RG", "Brazil National ID (RG)", r"\b\d{2}\.\d{3}\.\d{3}-\d\b", ["HR"]),
    ("SIT_CAN_SIN", "Canada Social Insurance Number", r"\b\d{3}-\d{3}-\d{3}\b", ["HR", "Tax"]),
    ("SIT_CAN_BANK", "Canada Bank Account Number", r"\b\d{7}\b", ["Finance"]),
    ("SIT_AUS_TFN", "Australia Tax File Number", r"\b\d{8}\b", ["Tax"]),
    ("SIT_CAN_HEALTH", "Canada Health Service Number", r"\b[4-6]\d{8}\b", ["Health"]),
    ("SIT_FR_INSEE", "France INSEE Number", r"\b[12]\d{12}\b", ["HR", "Health"]),
    ("SIT_EU_DEBIT", "EU Debit Card Number", r"\b6\d{15}\b", ["Finance"]),
    ("SIT_CAN_PASSPORT", "Canada Passport Number", r"\b[A-Z]{2}\d{6}\b", ["Travel"]),
    ("SIT_AUS_PASSPORT", "Australia Passport Number", r"\b[A-Z]\d{7}\b", ["Travel"]),
    ("SIT_AUS_BANK", "Australia Bank Account Number", r"\b\d{6}\b", ["Finance"]),
]

# Trainable-classifier SITs (reference config.json:217-236): generated
# with the generic F15 fallback values, no regex validation.
TC_SITS: list[tuple[str, str, list[str]]] = [
    ("SIT_HEALTHCARE_TC", "Healthcare TC", ["Health"]),
    ("SIT_HEALTH_FORMS_TC", "Health And Medical Forms TC", ["Health"]),
    ("SIT_TAX_TC", "Tax TC", ["Tax"]),
    ("SIT_HR_TC", "HR TC", ["HR"]),
    ("SIT_INVOICE_TC", "Invoice TC", ["Finance"]),
    ("SIT_EMP_INSURANCE_TC", "Employee Insurance Files TC", ["HR", "Finance"]),
    ("SIT_LEGAL_TC", "Legal Affairs TC", ["Legal"]),
    ("SIT_AGREEMENTS_TC", "Agreements TC", ["Legal", "Finance"]),
    ("SIT_DISCIPLINARY_TC", "Employee Disciplinary Action Files TC", ["HR"]),
    ("SIT_FINANCE_TC", "Finance TC", ["Finance"]),
    ("SIT_SOURCE_CODE_TC", "Source Code TC", ["IP"]),
    ("SIT_BUDGET_TC", "Budget TC", ["Finance"]),
    ("SIT_IP_TC", "Intellectual Property TC", ["IP"]),
    ("SIT_MA_TC", "Mergers And Acquisitions Files TC", ["Legal", "Finance"]),
    ("SIT_SOFTWARE_DEV_TC", "Software Product Development Files TC", ["IP"]),
    ("SIT_PROJECT_DOCS_TC", "Project Documents TC", ["Project"]),
    ("SIT_BANK_STATEMENT_TC", "Bank Statement TC", ["Finance"]),
    ("SIT_LOAN_AGREEMENTS_TC", "Loan Agreements And Offer Letters TC", ["Finance", "HR"]),
    ("SIT_WIRE_TRANSFER_TC", "Wire Transfer TC", ["Finance"]),
    ("SIT_SOW_TC", "Statement Of Work TC", ["Project"]),
]

SIT_CATALOG += [(sid, name, "", tcs) for sid, name, tcs in TC_SITS]

# Regex-bearing, RE2-portable subset: TC SITs (empty regex) are
# generated but never scanned, mirroring the reference's skip of
# uncompilable patterns. RE2 (DuckDB) rejects backreferences like \1;
# every catalog pattern is authored without them, so the scan set is
# currently all non-TC SITs. The \1 filter stays as a guard.
RE2_SAFE_IDS = [s[0] for s in SIT_CATALOG if s[2] and "\\1" not in s[2]]

# The scanned SITs' patterns compiled once for Python ``re``. ``re.ASCII``
# gives ``\d``, ``\b`` and ``(?i)`` the ASCII meaning Java and RE2 give
# them, so a Python scan finds the same matches as the SQL scans.
SIT_PATTERNS: dict[str, re.Pattern] = {
    sid: re.compile(rx, re.ASCII) for sid, _n, rx, _t in SIT_CATALOG
    if sid in RE2_SAFE_IDS
}


def is_placeholder(col: F.Column) -> F.Column:
    """Reusable Column predicate classifying a matched value as a fake/
    placeholder, re-expressing the reference's 12-heuristic test
    (modules/validator.py:147-194) UDF-free (SURVEY.md §2.2 P7):
    substring markers, x/dash runs, all-one-char, all-zero digits,
    too-short, mostly-non-alphanumeric.
    """
    s = F.lower(F.trim(col))
    digits = F.regexp_replace(s, F.lit(r"[^0-9]"), F.lit(""))
    alnum = F.regexp_replace(s, F.lit(r"[^a-z0-9]"), F.lit(""))
    all_same_char = (F.length(alnum) > 0) & (
        F.length(F.replace(alnum, F.substring(alnum, 1, 1), F.lit(""))) == 0
    )
    return (
        s.contains("xxx")
        | s.contains("redacted")
        | s.contains("placeholder")
        | s.contains("example")
        | s.contains("sample")
        | s.rlike(r"^[x*\-_]{3,}$")
        | (F.length(s) <= 2)
        | all_same_char
        # digits present but all zero
        | ((F.length(digits) > 0) & digits.rlike(r"^0+$"))
        # >60% of characters non-alphanumeric
        | (F.length(alnum).cast("double") < F.length(s) * 0.4)
    )


# DuckDB-dialect twin of ``is_placeholder`` for oracle SQL generation.
# Same spec, RE2 + DuckDB function names ('g' flag: DuckDB's
# regexp_replace is first-match-only by default, Spark's is global).
def is_placeholder_duckdb(var: str) -> str:
    s = f"lower(trim({var}))"
    alnum = f"regexp_replace({s}, '[^a-z0-9]', '', 'g')"
    digits = f"regexp_replace({s}, '[^0-9]', '', 'g')"
    return (
        "("
        f"position('xxx' IN {s}) > 0 OR "
        f"position('redacted' IN {s}) > 0 OR "
        f"position('placeholder' IN {s}) > 0 OR "
        f"position('example' IN {s}) > 0 OR "
        f"position('sample' IN {s}) > 0 OR "
        f"regexp_matches({s}, '^[x*\\-_]{{3,}}$') OR "
        f"length({s}) <= 2 OR "
        f"(length({alnum}) > 0 AND length(replace({alnum}, substr({alnum}, 1, 1), '')) = 0) OR "
        f"(length({digits}) > 0 AND regexp_matches({digits}, '^0+$')) OR "
        f"CAST(length({alnum}) AS DOUBLE) < length({s}) * 0.4"
        ")"
    )


def is_placeholder_py(s: str) -> bool:
    """Python twin of ``is_placeholder``. ``strip(" ")`` is SQL's
    ``trim``, which removes spaces only."""
    s = s.strip(" ").lower()
    digits = re.sub(r"[^0-9]", "", s)
    alnum = re.sub(r"[^a-z0-9]", "", s)
    return (
        any(m in s for m in ("xxx", "redacted", "placeholder", "example", "sample"))
        or re.fullmatch(r"[x*\-_]{3,}", s) is not None
        or len(s) <= 2
        or len(set(alnum)) == 1
        or set(digits) == {"0"}
        or len(alnum) < len(s) * 0.4
    )


def real_matches(sit_id: str, text: str) -> list[str]:
    """The non-placeholder matches of ``sit_id``'s pattern in ``text``,
    in match order: the Python form of the validator's per-pair scan
    (modules/validator.py:279-299)."""
    ms = (m[0] for m in SIT_PATTERNS[sit_id].finditer(text))
    return [m for m in ms if not is_placeholder_py(m)]
