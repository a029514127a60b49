"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed (numpy PCG64): the same
seed writes byte-identical parquet files. The program under test only
ever sees the files and configs written here, never the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Shape of the analytics tables: a TPC-H-like star schema of 1,500
# customers / 15,000 orders / about 60,000 lineitems (sf0.01).
CUSTOMERS, SUPPLIERS, PARTS, ORDERS, EVENTS = 1500, 100, 2000, 15000, 10000
EMBEDDINGS = 200
EMBED_DIM, EMBED_LABELS = 64, 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Document corpus: language mix and per-language vocabularies. The
# English vocabulary is the same technical word list the repo's own
# documents table uses, so text operators see realistic token stats.
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = {
    "en": (
        "spark stream batch part line column order small sort fast value "
        "scan a hash slow group agg filter query big key window row table "
        "merge data the join vector customer"
    ).split(),
    "es": (
        "el la datos flujo tabla valor rapido lento grupo filtro consulta "
        "clave ventana fila columna orden lote parte de que y en los"
    ).split(),
    "fr": (
        "le la les donnees flux table valeur rapide lent groupe filtre "
        "requete cle fenetre ligne colonne ordre lot partie de et en des"
    ).split(),
    "de": (
        "der die das daten strom tabelle wert schnell langsam gruppe filter "
        "abfrage schluessel fenster zeile spalte ordnung teil und mit von"
    ).split(),
    "zh": list("数据流表值快慢组过滤查询键窗口行列序批部分的和在是"),
}
N_SOURCES = 20
# Planted sensitive values (SSN / e-mail / IPv4 shapes from the SIT
# catalog) so the PII stages have real work.
SIT_SHARE = 0.08
NEAR_DUP_SHARE = 0.10
# share of each event slice's last forty minutes that arrives one slice late
LATE_SHARE = 0.5


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding one kind never
    shifts another kind's draws."""
    return np.random.default_rng([seed, _tag(stream)])


def _tag(stream: str) -> int:
    return int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    # timestamps as microseconds: the precision Spark and DuckDB share
    table = table.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("us"))
                if pa.types.is_timestamp(f.type)
                else f
                for f in table.schema
            ]
        )
    )
    pq.write_table(table, path)


def _sit_value(rng: np.random.Generator) -> str:
    kind = rng.integers(3)
    if kind == 0:
        a, b, c = rng.integers(100, 899), rng.integers(10, 99), rng.integers(1000, 9999)
        return f"{a}-{b}-{c}"
    if kind == 1:
        return f"user{rng.integers(10_000)}@example{rng.integers(50)}.com"
    return ".".join(str(x) for x in rng.integers(1, 255, 4))


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars) corpus: a fixed language
    and source mix, lengths spread like the repo's documents table,
    a seeded near-duplicate share and a seeded share carrying SIT-shaped
    values. ``src0`` is the held-out benchmark source of the curation
    stages."""
    rng = _rng(seed, "documents")
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    sources = np.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n_docs)])
    n_words = rng.integers(8, 96, size=n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        vocab = VOCAB[langs[i]]
        sep = "" if langs[i] == "zh" else " "
        if i > 20 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate: an earlier doc with its last word swapped
            words = texts[rng.integers(0, i)].split(sep) if sep else list(
                texts[rng.integers(0, i)]
            )
            words[-1] = vocab[rng.integers(len(vocab))]
            texts.append(sep.join(words))
            continue
        words = [vocab[j] for j in rng.integers(0, len(vocab), n_words[i])]
        if rng.random() < SIT_SHARE:
            words.insert(int(rng.integers(len(words))), _sit_value(rng))
        texts.append(sep.join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _timestamps(rng, n, start, days, sort=True):
    micros = rng.integers(0, days * 86_400_000_000, n)
    if sort:
        micros = np.sort(micros)
    return pd.Timestamp(start) + pd.to_timedelta(micros, unit="us")


def events(seed: int, n: int, n_users: int = 1500, days: int = 30) -> pd.DataFrame:
    """Event log: Zipf-distributed users, five event types, a month of
    time-ordered events with JSON props."""
    rng = _rng(seed, "events")
    users = (rng.zipf(1.3, n) - 1) % n_users
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _timestamps(rng, n, "2024-01-01", days),
            "user_id": users.astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int) -> None:
    """Every table the registry queries read, as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "tables")
    n_cust, n_supp, n_part, n_ord = CUSTOMERS, SUPPLIERS, PARTS, ORDERS

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
    }
    odate = _timestamps(rng, n_ord, "1995-01-01", 2404, sort=False).normalize()
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    ship = odate.values.repeat(lines) + pd.to_timedelta(
        rng.integers(1, 122, n_li), unit="D"
    ).values
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pd.to_datetime(ship),
        }
    )
    tables["events"] = events(seed, EVENTS)
    tables["documents"] = documents(seed, n_docs)
    n_vec = EMBEDDINGS
    centers = rng.normal(0, 1, (EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.5, (n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))


def write_event_slices(out_dir: str, seed: int, n_slices: int, n_events: int) -> pd.DataFrame:
    """``n_slices`` time-ordered parquet slices of one event log, written
    as ``{out_dir}/slice_NNNN.parquet``. Rows inside a slice are
    shuffled (out of order), and ``LATE_SHARE`` of each slice's last
    forty minutes is held back into the next slice (late arrivals that
    stay inside the streaming jobs' one-hour watermark, so no event is
    legitimately dropped). Returns the concatenated log."""
    os.makedirs(out_dir, exist_ok=True)
    log = events(seed, n_events)
    rng = _rng(seed, "slices")
    bounds = np.linspace(0, n_events, n_slices + 1).astype(int)
    carry = log.iloc[0:0]
    for k in range(n_slices):
        part = log.iloc[bounds[k]: bounds[k + 1]]
        if k + 1 < n_slices:
            cutoff = part["ts"].max() - pd.Timedelta(minutes=40)
            late = (part["ts"] > cutoff).values & (rng.random(len(part)) < LATE_SHARE)
            held, part = part[late], part[~late]
        else:
            held = log.iloc[0:0]
        part = pd.concat([carry, part])
        part = part.iloc[rng.permutation(len(part))]
        _write(part, os.path.join(out_dir, f"slice_{k:04d}.parquet"))
        carry = held
    return log


def query_round(seed: int, rnd: int, names: list[str]) -> list[str]:
    """Closed-loop request order for round ``rnd``: a seeded permutation
    of ``names``, so every round issues each query exactly once."""
    rng = np.random.default_rng([seed, rnd, _tag("queries")])
    return [names[i] for i in rng.permutation(len(names))]
