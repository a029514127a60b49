"""Word-level text features: the one place that decides how text
becomes tokens, normalized text and word n-grams, in both engines.

The Spark forms (``tokens``, ``normalized``, ``word_ngrams``) build
Columns; the DuckDB forms (``tokens_sql``, ``normalized_md5_sql``,
``word_ngrams_sql``) build SQL fragments for the oracles. The two sets
are written independently, so oracle parity still compares two
implementations of one definition:

- tokens: split the trimmed, lowercased text on whitespace runs;
- normalized text: the same text with each whitespace run collapsed
  to one space (the exact-dedup key);
- word n-grams: every run of ``n`` adjacent tokens, joined by a space,
  in position order and empty when a document has fewer than ``n``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a trimmed, lowercased text column."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def normalized(col: Column | str) -> Column:
    """Trimmed, lowercased text with whitespace runs collapsed to one
    space."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def word_ngrams(arr: Column | str, n: int) -> Column:
    """The position-ordered word n-grams of a token-array column, not
    deduplicated; an empty array when it holds fewer than ``n``
    tokens. An expression argument is repeated once per index in the
    plan, so pass the column (or name) that holds a ``tokens`` array."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(arr, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def tokens_sql(col: str = "text") -> str:
    """DuckDB: the token list of ``col`` (see :func:`tokens`)."""
    return f"regexp_split_to_array(lower(trim({col})), '\\s+')"


def normalized_md5_sql(col: str = "text") -> str:
    """DuckDB: md5 of the normalized text of ``col`` (see
    :func:`normalized`)."""
    return f"md5(regexp_replace(lower(trim({col})), '\\s+', ' ', 'g'))"


def word_ngrams_sql(arr: str, n: int) -> str:
    """DuckDB: the word n-gram list of the token list ``arr`` (see
    :func:`word_ngrams`); 1-based slices, empty below ``n`` tokens."""
    return (
        f"list_transform(range(1, len({arr}) - {n - 2}), "
        f"i -> array_to_string({arr}[i:i + {n - 1}], ' '))"
    )
