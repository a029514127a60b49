"""Cross-engine SQL snippets: identical results in Spark SQL and DuckDB.

The reference relies on a *sequential* PRNG stream (global
``random.seed(42)`` at modules/meta_generator.py:64) which cannot be
reproduced on a distributed engine. Per SURVEY.md §4.3.1 the engine
replaces it with **counter-mode md5 randomness**: every draw is a pure
function of (row key, tag). Because ``md5``, ``substr``, ``ascii``,
``concat`` and ``CASE`` behave identically in Spark SQL and DuckDB,
the same snippet doubles as the DuckDB oracle — generation itself is
oracle-checkable.

All helpers return SQL strings; Spark-side callers wrap with F.expr().
"""

from __future__ import annotations

HEX_DIGITS = 4  # 16 bits of uniformity per draw — plenty for categorical draws

U16_MAX = 65535


def _hexval(ch_sql: str) -> str:
    """SQL: value 0..15 of one lowercase hex char (works in both engines)."""
    return f"(CASE WHEN ascii({ch_sql}) >= 97 THEN ascii({ch_sql}) - 87 ELSE ascii({ch_sql}) - 48 END)"


def md5_hex(key_sql: str, tag: str) -> str:
    """SQL: lowercase md5 hex of 'key:tag' — the raw entropy source."""
    return f"md5(concat(CAST({key_sql} AS STRING), ':{tag}'))"


def hash_u16(key_sql: str, tag: str) -> str:
    """SQL: deterministic uniform int in [0, 65535] from (key, tag).

    Emitted as a marker token; call ``expand_u16(sql, dialect)`` on the
    assembled query. Why: the dialect-shared formulation (a CASE chain
    per hex digit, each repeating the md5 call) balloons the expression
    tree ~40× — big enough that Catalyst analysis alone took tens of
    seconds and stages blew the 64KB codegen method limit. Spark gets a
    compact ``conv(substr(md5(..),1,4),16,10)``; DuckDB (no conv) keeps
    the CASE chain, which it handles fine. Identical values either way.
    """
    return f"__U16({key_sql}§{tag})__"


def _u16_spark(key_sql: str, tag: str) -> str:
    h = md5_hex(key_sql, tag)
    return f"CAST(conv(substr({h}, 1, {HEX_DIGITS}), 16, 10) AS INT)"


def _u16_portable(key_sql: str, tag: str) -> str:
    h = md5_hex(key_sql, tag)
    terms = []
    for i in range(HEX_DIGITS):
        ch = f"substr({h}, {i + 1}, 1)"
        terms.append(f"{_hexval(ch)} * {16 ** (HEX_DIGITS - 1 - i)}")
    return "(" + " + ".join(terms) + ")"


def expand_u16(sql: str, dialect: str) -> str:
    """Expand __U16(key§tag)__ markers for the target engine."""
    import re as _re

    fn = _u16_spark if dialect == "spark" else _u16_portable
    out = sql
    # innermost-first: key_sql never contains markers, so one pass works
    pat = _re.compile(r"__U16\(([^§]*?)§(.*?)\)__")
    while True:
        new = pat.sub(lambda m: fn(m.group(1), m.group(2)), out)
        if new == out:
            return new
        out = new


def hash_unit(key_sql: str, tag: str) -> str:
    """SQL: deterministic uniform double in [0, 1) from (key, tag)."""
    return f"(CAST({hash_u16(key_sql, tag)} AS DOUBLE) / 65536.0)"


def hash_int_range(key_sql: str, tag: str, lo: int, hi: int) -> str:
    """SQL: deterministic uniform int in [lo, hi] (inclusive)."""
    n = hi - lo + 1
    return f"(({hash_u16(key_sql, tag)} % {n}) + {lo})"

