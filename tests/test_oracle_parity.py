"""Local twin of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle on the same parquet tables, then
compare row counts + order-insensitive values exactly.

This is deliberately stricter than approximate comparison — the driver
hashes values, so only exact matches count (SURVEY.md §5 'Oracle').
"""

from __future__ import annotations

import duckdb
import pytest

from scripts.driver_sim import TABLES, canon
from synthetic_data_pipeline_spark.queries import all_oracles, all_queries
from tests.conftest import SF_DIR

_QUERIES = all_queries()
_ORACLES = all_oracles()


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = _QUERIES[name](spark, SF_DIR).toPandas()
    odf = _duck(SF_DIR, _ORACLES[name])
    assert list(sorted(sdf.columns)) == list(sorted(odf.columns)), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    s_rows, o_rows = canon(sdf), canon(odf)
    assert len(s_rows) == len(o_rows), f"{name}: rowcount {len(s_rows)} vs {len(o_rows)}"
    mismatches = [
        (a, b) for a, b in zip(s_rows, o_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_query_without_oracle_runs(spark, name):
    df = _QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
