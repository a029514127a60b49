"""Property-style cross-engine parity for the foundational functions:
the md5 counter-mode draws and the is_placeholder predicate (Spark
Column, DuckDB SQL and Python forms) must agree value-for-value on
adversarial inputs — these two primitives underpin every oracle match.
"""

from __future__ import annotations

import random
import string

import duckdb
from pyspark.sql import functions as F

from synthetic_data_pipeline_spark.functions.xsql import expand_u16, hash_u16, hash_unit
from synthetic_data_pipeline_spark.plans.catalog import (
    is_placeholder,
    is_placeholder_duckdb,
    is_placeholder_py,
)

random.seed(1234)


def _random_values(n: int = 300) -> list[str]:
    vals = []
    alphabet = string.ascii_letters + string.digits + " .-_*@xX0"
    for _ in range(n):
        ln = random.randint(0, 24)
        vals.append("".join(random.choice(alphabet) for _ in range(ln)))
    # adversarial corners for the placeholder heuristics
    vals += [
        "", " ", "x", "xx", "xxx", "XXXX", "0000 0000 0000 0000",
        "999.999.999.999", "REDACTED_7", "a sample value", "Example.com",
        "___", "***", "---", "4111 1111 1111 1111", "123-45-6789",
        "!!!???!!!", "aAaAaA", "0", "00-00", "x0x0x0", "...",
    ]
    return vals


def test_hash_draws_match_duckdb(spark):
    keys = [str(i) for i in range(500)] + ["a:b", "doc_42", "slot"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    u16 = expand_u16(hash_u16("k", "tagA"), "spark")
    unit = expand_u16(hash_unit("k", "tagB"), "spark")
    got = {
        r.k: (r.u, r.f)
        for r in df.selectExpr("k", f"{u16} AS u", f"{unit} AS f").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    want = {
        k: (u, f)
        for k, u, f in con.execute(
            f"SELECT k, {expand_u16(hash_u16('k', 'tagA'), 'duckdb')}, "
            f"{expand_u16(hash_unit('k', 'tagB'), 'duckdb')} FROM t"
        ).fetchall()
    }
    assert got == want
    # uniformity sanity: draws cover the range without gross clumping
    us = [u for u, _ in got.values()]
    assert 0 <= min(us) and max(us) <= 65535
    assert len(set(us)) > len(us) * 0.95


def test_is_placeholder_dialects_agree(spark):
    vals = _random_values()
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r.v: bool(r.p)
        for r in df.select("v", is_placeholder(F.col("v")).alias("p")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = {
        v: bool(p)
        for v, p in con.execute(
            f"SELECT v, {is_placeholder_duckdb('v')} FROM t"
        ).fetchall()
    }
    diff = {v: (got[v], want.get(v)) for v in got if got[v] != want.get(v)}
    assert not diff, f"dialect disagreement on: {diff}"
    py_diff = {v: (got[v], is_placeholder_py(v)) for v in vals
               if got[v] != is_placeholder_py(v)}
    assert not py_diff, f"Python form disagrees on: {py_diff}"
    # sanity of the spec itself
    assert got["0000 0000 0000 0000"] and got["999.999.999.999"]
    assert got["xxx"] and got["REDACTED_7"] and got["a sample value"]
    assert not got["4111 1111 1111 1111"] and not got["123-45-6789"]

def test_text_audit_ops_match_duckdb_on_random_corpora(spark, tmp_path):
    """Randomized-corpus parity for the round-9 text audits (fertility
    q141, corpus diversity q143, boilerplate q147) and for the shared
    word features (functions/grams.py) behind the quality rule (q97),
    training prep (q102), distinct n-grams and decontamination (q105)
    and positional span grams (q134): seeded random docs with duplicate
    texts, shared footers, messy whitespace, mixed case, docs shorter
    than n and empty strings must hash-match the DuckDB oracles — the
    same comparison the driver gate runs, on corpora it never
    generates. One source is the held-out benchmark source."""
    import pandas as pd

    from synthetic_data_pipeline_spark.functions.grams import (
        tokens_sql,
        word_ngrams_sql,
    )
    from synthetic_data_pipeline_spark.functions.rounding import (
        apply_sql_eround,
    )
    from synthetic_data_pipeline_spark.operators import dedup, textops

    rng = random.Random(20260815)
    vocab = ["aa", "bb", "cc", "dd", "ee", "zz", "Yy", "q1"]

    def make_corpus(n_docs: int) -> pd.DataFrame:
        rows = []
        footer = "ff gg hh ii"
        for i in range(n_docs):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 9))]
            text = " ".join(words)
            if i % 3 == 0:
                text = text + "  " + footer  # shared verbatim run
            if i % 7 == 0:
                text = "\t" + text.upper() + "  "  # case + whitespace mess
            if i % 11 == 0:
                text = ""  # empty doc
            rows.append(
                (i, text, rng.choice(["en", "de"]),
                 rng.choice([textops.DECON_BENCH_SOURCE, "s2", "s3"]),
                 len(text))
            )
        return pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )

    from scripts.driver_sim import canon

    def on_docs(fn):
        return lambda docs, sf_dir: fn(docs)

    def on_dir(query):
        return lambda docs, sf_dir: query(spark, sf_dir)

    def ngrams_sql(n):
        return (
            f"SELECT doc_id, source, unnest(list_distinct("
            f"{word_ngrams_sql(tokens_sql(), n)})) AS g FROM documents"
        )

    cases = [
        ("q141", on_docs(textops.tokenizer_fertility), textops._q141_oracle()),
        ("q143", on_docs(textops.corpus_diversity), textops._Q143_ORACLE),
        ("q147", on_docs(textops.boilerplate_grams), textops._Q147_ORACLE),
        ("q155", on_docs(textops.boilerplate_clean), textops._Q155_ORACLE),
        ("q156", on_docs(textops.boilerplate_clean_stats), textops._Q156_ORACLE),
        ("q97", on_dir(textops.q97_quality_filter), textops._Q97_ORACLE),
        ("q102", on_dir(textops.q102_training_prep), textops._q102_oracle()),
        ("q105", on_dir(textops.q105_decontaminate), textops._Q105_ORACLE),
        ("q134", on_dir(dedup.q134_longest_dup_span), dedup._Q134_ORACLE),
    ] + [
        (f"ngrams{n}", on_docs(lambda d, n=n: textops.distinct_ngrams(d, n)),
         ngrams_sql(n))
        for n in (2, 3)
    ]
    for trial in range(3):
        pdf = make_corpus(12 + 10 * trial)
        con = duckdb.connect()
        con.register("documents", pdf)
        sf_dir = str(tmp_path / f"trial{trial}")
        spark.createDataFrame(pdf).write.parquet(f"{sf_dir}/documents.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for name, run, oracle in cases:
            got = run(docs, sf_dir).toPandas()
            want = con.execute(apply_sql_eround(oracle)).df()
            assert sorted(got.columns) == sorted(want.columns), name
            assert canon(got) == canon(want), (name, trial)


def test_strip_actions_match_duckdb_on_random_corpora(spark):
    """Randomized-corpus parity for the round-10 STRIP family (q155
    boilerplate clean + q156 stats, q157 cross-doc span strip + q158
    stats, q160 decontamination strip, q162 self-repetition strip):
    seeded random docs long enough to carry 20-grams, with planted
    cross-doc copied spans, in-doc repeated phrases, a benchmark
    source, shared footers, messy whitespace/case and empty docs —
    the exact clean_text STRINGS must hash-match the DuckDB oracles
    on corpora the driver gate never generates."""
    import pandas as pd

    from scripts.driver_sim import canon
    from synthetic_data_pipeline_spark.functions.rounding import (
        apply_sql_eround,
    )
    from synthetic_data_pipeline_spark.operators import dedup, textops

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(300)]

    def make_corpus(n_docs: int) -> pd.DataFrame:
        texts = []
        for i in range(n_docs):
            toks = [rng.choice(vocab) for _ in range(rng.randint(25, 60))]
            if i % 5 == 3:  # in-doc repeated phrase (q162's prey)
                phrase = toks[3:8]
                toks = toks[:15] + phrase + toks[15:]
            if i % 4 == 1 and texts:  # copy a 22-token span (q157/q159)
                donor = texts[rng.randrange(len(texts))].split()
                if len(donor) >= 22:
                    s = rng.randrange(len(donor) - 21)
                    toks = toks[:5] + donor[s:s + 22] + toks[5:]
            if i % 6 == 0:  # shared footer (q147/q155's prey)
                toks += ["all", "rights", "reserved", "contact", "us"]
            text = " ".join(toks)
            if i % 7 == 2:
                text = "\t" + text.upper() + "  "
            if i % 13 == 12:
                text = ""
            texts.append(text)
        rows = [
            (i, texts[i],
             rng.choice(["en", "de"]),
             # src0 is DECON_BENCH_SOURCE — gives q160 a real bench
             rng.choice(["src0", "s1", "s2"]),
             len(texts[i]))
            for i in range(n_docs)
        ]
        return pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )

    cases = [
        (textops.boilerplate_clean, textops._Q155_ORACLE),
        (textops.boilerplate_clean_stats, textops._Q156_ORACLE),
        (textops.decontaminate_strip, textops._Q160_ORACLE),
        (dedup.dedup_span_strip, dedup._Q157_ORACLE),
        (dedup.dedup_span_strip_stats, dedup._Q158_ORACLE),
        (dedup.self_repetition_strip, dedup._Q162_ORACLE),
    ]
    for trial in range(2):
        pdf = make_corpus(30 + 20 * trial)
        con = duckdb.connect()
        con.register("documents", pdf)
        docs = spark.createDataFrame(pdf)
        nontrivial = 0
        for fn, oracle in cases:
            got = fn(docs).toPandas()
            want = con.execute(apply_sql_eround(oracle)).df()
            assert sorted(got.columns) == sorted(want.columns), fn.__name__
            assert canon(got) == canon(want), (fn.__name__, trial)
            nontrivial += len(got)
        assert nontrivial > 10  # the corpus must actually exercise strips


def test_lp_funnel_tier_matches_duckdb_on_random_corpus(spark, tmp_path):
    """Randomized-corpus parity for the LP-funnel consumers (retention
    q95, histogram q58, best-copy keepers q144, leakage-free split
    q145): a seeded corpus with PLANTED near-dup clusters (2-4 members,
    one word mutated between members) written as a throwaway sf_dir
    must hash-match the full MinHash->LSH->label-propagation CTE chain
    in DuckDB — the deepest shared lineage in the engine, exercised on
    a corpus the driver never generates."""
    import pandas as pd

    from synthetic_data_pipeline_spark.functions.rounding import (
        apply_sql_eround,
    )
    from synthetic_data_pipeline_spark.operators import sketches
    from scripts.driver_sim import canon

    rng = random.Random(99_2026)
    vocab = [f"w{i}" for i in range(400)]
    rows, doc_id = [], 0
    for cluster in range(6):
        base = [rng.choice(vocab) for _ in range(30)]
        for member in range(rng.randint(2, 4)):
            words = list(base)
            if member:  # mutate one word per non-first member
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
            rows.append((doc_id, text, "en",
                         rng.choice(["s1", "s2"]), len(text)))
            doc_id += 1
    for _ in range(10):  # singleton background docs
        text = " ".join(rng.choice(vocab) for _ in range(25))
        rows.append((doc_id, text, "en", rng.choice(["s1", "s2"]),
                     len(text)))
        doc_id += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )

    sf_dir = str(tmp_path / "rand_sf")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    con = duckdb.connect()
    con.register("documents", pdf)

    oracles = {
        "q95": sketches._dedup_retention_oracle(),
        "q58": sketches._dup_clusters_oracle(),
        "q144": sketches._cluster_representatives_oracle(),
        "q145": sketches._cluster_aware_split_oracle(),
    }
    builders = {
        "q95": sketches.q95_dedup_retention,
        "q58": sketches.q58_dup_clusters,
        "q144": sketches.q144_cluster_representatives,
        "q145": sketches.q145_cluster_aware_split,
    }
    n_retained = None
    for key in oracles:
        got = builders[key](spark, sf_dir).toPandas()
        want = con.execute(apply_sql_eround(oracles[key])).df()
        assert sorted(got.columns) == sorted(want.columns), key
        assert canon(got) == canon(want), key
        if key == "q95":
            n_retained = len(got)
    # the planted clusters must actually exercise the funnel: every
    # cluster drops (size-1) members, so at least 6 retention rows
    assert n_retained >= 6


def test_bot_signals_match_duckdb_on_random_events(spark):
    """Randomized events parity for q151: random timestamps (including
    same-microsecond ties broken by event_id), skewed type mixes and
    users straddling the event floor must hash-match the DuckDB oracle
    — the stddev/entropy float surfaces are the riskiest cross-engine
    arithmetic among the round-9 newborns."""
    import datetime as dt

    import pandas as pd

    from synthetic_data_pipeline_spark.functions.rounding import (
        apply_sql_eround,
    )
    from synthetic_data_pipeline_spark.operators import events as ev_mod
    from synthetic_data_pipeline_spark.sources import tables
    from scripts.driver_sim import canon

    rng = random.Random(151_2026)
    t0 = dt.datetime(2025, 6, 1)
    for trial in range(2):
        rows, eid = [], 0
        for user in range(12):
            n = rng.randint(5, 40)  # some users under the floor of 10
            acc = 0
            for _ in range(n):
                acc += rng.choice([0, 1, 60, 60, 3600, 7])  # incl. ties
                rows.append(
                    (eid, t0 + dt.timedelta(seconds=acc,
                                            microseconds=rng.randint(0, 5)),
                     user,
                     rng.choice(["click", "view", "view", "error"]),
                     1.0, "{}")
                )
                eid += 1
        pdf = pd.DataFrame(rows, columns=[
            "event_id", "ts", "user_id", "event_type", "value", "props"])
        con = duckdb.connect()
        con.register("events", pdf)
        df = spark.createDataFrame(pdf)
        df.createOrReplaceTempView("_rand_events")
        orig = ev_mod.load_table
        ev_mod.load_table = (
            lambda sp, sf, name: sp.table("_rand_events")
            if name == "events" else tables.load_table(sp, sf, name)
        )
        try:
            got = ev_mod.q151_bot_signals(spark, "unused").toPandas()
        finally:
            ev_mod.load_table = orig
        want = con.execute(
            apply_sql_eround(ev_mod._Q151_ORACLE)
        ).df()
        assert sorted(got.columns) == sorted(want.columns)
        assert canon(got) == canon(want), trial
        assert len(got) > 0
