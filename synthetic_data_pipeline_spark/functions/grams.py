"""Word-level text features shared by the Spark operators: the one
tokenizer expression every token, shingle and n-gram builder starts
from. The DuckDB oracles spell their own ``regexp_split_to_array(lower(
trim(text)))``, so oracle parity still compares two implementations."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a trimmed, lowercased text column."""
    return F.split(F.lower(F.trim(col)), r"\s+")
