"""Reference-shaped mapping-table operators (SURVEY.md §1.1 'Mapping
table'): the reference encodes multi-valued fields as ';'-joined
positionally-parallel strings in its CSV (meta_generator.py:161-166) and
unpacks them per row (validator.py:256-274). The engine keeps real
ArrayType columns internally and reproduces the packed form only at the
CSV boundary; these queries prove both directions plus the CSV-era merge
semantics:

- q63: pack (ordered string_agg) → unpack (split + arrays_zip +
  posexplode — the positional zip-join J4, a zip not a shuffle) →
  re-aggregate; hash-matching the oracle proves the round trip is
  lossless.
- q64: the upsert-by-doc_id merge (content_generator.py:336-352, J3) as
  a full-outer join + per-column coalesce.
- q65: distinct-set aggregation (A7): union of TCs across a document's
  SITs via flatten + array_distinct of collected lists.

All run on the self-contained generated corpus so the DuckDB oracle
re-derives identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import apply_sql_eround
from ..functions.xsql import expand_u16
from ..plans.catalog import SIT_CATALOG
from ..plans.generate import DEFAULT_CONFIG, GenConfig
from .generation import _DIALECTS, _gen_ctes, _spark_sql


def _packed_cte(d: dict) -> str:
    """mapping-table CTE: one row per doc, ';'-packed parallel lists."""
    if d["len"] == "size":  # spark dialect
        agg = (
            "concat_ws(';', transform(array_sort(collect_list(struct(slot, {c}))), "
            "x -> CAST(x.{c} AS STRING)))"
        )
    else:
        agg = "string_agg(CAST({c} AS STRING), ';' ORDER BY slot)"
    return f"""
      mapping AS (
        SELECT doc_id, format,
               {agg.format(c='sit_id')} AS sit_ids,
               {agg.format(c='label')} AS labels,
               {agg.format(c='instances')} AS instances,
               {agg.format(c='confidence')} AS confidences
        FROM doc_sits
        GROUP BY doc_id, format
      )
    """


def _unpack_sql(cfg: GenConfig, dialect: str) -> str:
    """Unpack the ';'-lists positionally and re-aggregate per sit —
    byte-lossless iff it hash-matches q60-style numbers."""
    d = _DIALECTS[dialect]
    if dialect == "spark":
        unpacked = """
          unpacked AS (
            SELECT doc_id,
                   split(sit_ids, ';')[pos] AS sit_id,
                   split(labels, ';')[pos] AS label,
                   CAST(split(instances, ';')[pos] AS INT) AS instances
            FROM (
              SELECT *, explode(sequence(0, size(split(sit_ids, ';')) - 1)) AS pos
              FROM mapping
            )
          )
        """
    else:
        unpacked = """
          unpacked AS (
            SELECT doc_id,
                   string_split(sit_ids, ';')[pos] AS sit_id,
                   string_split(labels, ';')[pos] AS label,
                   CAST(string_split(instances, ';')[pos] AS INT) AS instances
            FROM (
              SELECT *, unnest(range(1, len(string_split(sit_ids, ';')) + 1)) AS pos
              FROM mapping
            )
          )
        """
    return apply_sql_eround(expand_u16(f"""
      WITH {_gen_ctes(cfg, d)},
      {_packed_cte(d)},
      {unpacked}
      SELECT sit_id,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN label = 'TP' THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
             CAST(sum(instances) AS BIGINT) AS total_instances
      FROM unpacked
      GROUP BY sit_id ORDER BY sit_id
    """, dialect))


def _upsert_sql(cfg: GenConfig, dialect: str) -> str:
    """J3 upsert: updates (docs with even id get word target +1000) merged
    over the base by full-outer join + coalesce; aggregate checksum."""
    d = _DIALECTS[dialect]
    return apply_sql_eround(expand_u16(f"""
      WITH {_gen_ctes(cfg, d)},
      base AS (
        SELECT doc_id, format, word_count_target FROM docs
      ),
      updates AS (
        SELECT doc_id, format, word_count_target + 1000 AS word_count_target
        FROM docs WHERE doc_id % 2 = 0
      ),
      merged AS (
        SELECT coalesce(u.doc_id, b.doc_id) AS doc_id,
               coalesce(u.format, b.format) AS format,
               coalesce(u.word_count_target, b.word_count_target) AS word_count_target
        FROM base b FULL OUTER JOIN updates u ON b.doc_id = u.doc_id
      )
      SELECT format,
             count(*) AS n_docs,
             CAST(sum(word_count_target) AS BIGINT) AS sum_target,
             CAST(sum(doc_id) AS BIGINT) AS sum_ids
      FROM merged GROUP BY format ORDER BY format
    """, dialect))


def _tcs_sql(cfg: GenConfig, dialect: str) -> str:
    """A7: per-doc distinct union of the TC lists of its SITs."""
    d = _DIALECTS[dialect]
    tc_whens = " ".join(
        f"WHEN '{sid}' THEN '{'|'.join(tcs)}'" for sid, _n, _r, tcs in SIT_CATALOG
    )
    if dialect == "spark":
        agg = "size(array_distinct(flatten(collect_list(split(tc_str, '[|]')))))"
    else:
        agg = "len(list_distinct(flatten(list(string_split(tc_str, '|')))))"
    return apply_sql_eround(expand_u16(f"""
      WITH {_gen_ctes(cfg, d)},
      with_tcs AS (
        SELECT doc_id, (CASE sit_id {tc_whens} ELSE 'General' END) AS tc_str
        FROM doc_sits
      ),
      per_doc AS (
        SELECT doc_id, {agg} AS n_tcs FROM with_tcs GROUP BY doc_id
      )
      SELECT n_tcs, count(*) AS n_docs
      FROM per_doc GROUP BY n_tcs ORDER BY n_tcs
    """, dialect))


def q63_mapping_pack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_sql(spark, _unpack_sql(DEFAULT_CONFIG, "spark"))


def q64_mapping_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_sql(spark, _upsert_sql(DEFAULT_CONFIG, "spark"))


def q65_distinct_tcs_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_sql(spark, _tcs_sql(DEFAULT_CONFIG, "spark"))


QUERIES = {
    "q63_mapping_pack_roundtrip": q63_mapping_pack_roundtrip,
    "q64_mapping_upsert": q64_mapping_upsert,
    "q65_distinct_tcs_histogram": q65_distinct_tcs_histogram,
}

ORACLES = {
    "q63_mapping_pack_roundtrip": _unpack_sql(DEFAULT_CONFIG, "duckdb"),
    "q64_mapping_upsert": _upsert_sql(DEFAULT_CONFIG, "duckdb"),
    "q65_distinct_tcs_histogram": _tcs_sql(DEFAULT_CONFIG, "duckdb"),
}
