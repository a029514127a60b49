"""The benchmark's workloads.

Each workload writes its seeded inputs in ``prepare`` (untimed), builds
its per-session state in ``setup`` (timed into ``setup_s``), runs its
timed operations in ``measure`` and verifies every operation's output
in ``check``. Calls into the package go through module attributes, so
the tracer's wrappers see them.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import inputs

PKG = "synthetic_data_pipeline_spark"


@dataclass
class Measured:
    items: int = 0  # work items completed (docs, queries, events)
    wall_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    per_layer: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    names: list[str] = field(default_factory=list)  # operation per latency

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc}"[:500])


def _mod(name: str):
    import importlib

    return importlib.import_module(f"{PKG}.{name}")


# --------------------------------------------------------------------------
# sit_pipeline


# Container prefixes a rendition may start with: the real format's magic,
# or the package's own stand-in container when the optional writer
# library (python-docx / reportlab) is not installed.
def rendition_magics() -> dict[str, tuple[bytes, ...]]:
    r = _mod("sources.renditions")
    return {
        "docx": (b"PK\x03\x04", r._DOCX_MAGIC),
        "pdf": (b"%PDF", r._PDF_MAGIC),
        "eml": (b"Subject:", b"Content-Type:", b"MIME-Version:", b"From:", b"To:"),
    }


# which rendition column each generated format must carry
FORMAT_RENDITIONS = {
    "document": ("docx",),
    "pdf": ("docx", "pdf"),
    "email": ("eml",),
    "email_with_attachment": ("eml",),
    "chat": (),
}


def check_renditions(table: pd.DataFrame) -> tuple[list[str], dict[str, int]]:
    """Per-row rendition checks over a materialized sink. Returns the
    problems found and the bytes written per rendition column; a format
    whose column carries no bytes at all means the column was pruned
    from the plan and never rendered."""
    magics = rendition_magics()
    problems: list[str] = []
    bytes_out = {c: 0 for c in magics}
    for row in table.itertuples(index=False):
        want = FORMAT_RENDITIONS[row.format]
        for col in magics:
            data = getattr(row, col)
            if col not in want:
                continue
            if data is None:
                problems.append(f"doc {row.doc_id}: {col} missing for {row.format}")
            elif not bytes(data).startswith(magics[col]):
                problems.append(f"doc {row.doc_id}: {col} has bad magic")
            else:
                bytes_out[col] += len(data)
    needed = {c for cols in FORMAT_RENDITIONS.values() for c in cols}
    present = set(table["format"].unique())
    for col in sorted(needed):
        wanted = any(col in FORMAT_RENDITIONS[f] for f in present)
        if wanted and bytes_out[col] == 0:
            problems.append(f"rendition column {col} wrote 0 bytes (pruned?)")
    return problems, bytes_out


class SitPipeline:
    """Generate -> render -> add_renditions into a parquet sink with
    every binary column -> write_validation_report. The generator is
    counter-mode (no seed), so the seed does not change this input."""

    name = "sit_pipeline"
    # sha256 of the validation report text, which depends only on the
    # fixed default generator config
    REPORT_SHA256 = "626822fb44b56df9175825ec2f6680eb52c9ca275c4d8fa6e7e3cec4436fdaaa"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.passes: list[tuple[str, str]] = []

    def prepare(self) -> None:
        # the report's per-SIT sections are defined on the default config
        # (640 documents), so the whole pass runs on it
        self.cfg = _mod("plans.generate").DEFAULT_CONFIG

    def setup(self, spark, tracer) -> None:
        pass

    def _pass(self, spark, tracer, i: int) -> tuple[str, str]:
        gen = _mod("operators.generation")
        ren = _mod("sources.renditions")
        xsql = _mod("functions.xsql")
        sink = os.path.join(self.work, f"renditions_{i}")
        report = os.path.join(self.work, f"report_{i}.txt")
        # memoized scan state is per session; a pass must not reuse it
        gen.clear_scanned_pairs_cache()
        with tracer.span("operators.generation", "generate"):
            d = gen._DIALECTS["spark"]
            sql = xsql.expand_u16(
                f"WITH {gen._gen_ctes(self.cfg, d)}, {gen._rendered_cte(d)} "
                "SELECT doc_id, format, text FROM rendered",
                "spark",
            )
            docs = spark.sql(sql)
        rendered = ren.add_renditions(docs)
        with tracer.span("sources.renditions", "parquet_sink"):
            rendered.write.mode("overwrite").parquet(sink)
        gen.write_validation_report(spark, report)
        return sink, report

    def measure(self, spark, tracer, seconds: float) -> Measured:
        gen = _mod("operators.generation")
        m = Measured()
        t_start = time.perf_counter()
        while not m.attempted or time.perf_counter() - t_start < seconds:
            i = len(self.passes)
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                self.passes.append(self._pass(spark, tracer, i))
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                m.fail(f"pass {i}", exc)
                self.passes.append(("", ""))
                continue
            m.latencies.append(time.perf_counter() - t0)
            m.items += self.cfg.n_docs
        m.wall_s = time.perf_counter() - t_start
        if tracer.enabled:
            m.per_layer["generation.scan_pairs"] = float(
                gen._scanned_pairs(spark, gen.DEFAULT_CONFIG).count()
            )
        return m

    def check(self, spark, m: Measured) -> None:
        total = {"docx": 0, "pdf": 0, "eml": 0}
        docs = 0
        for i, (sink, report) in enumerate(self.passes):
            if not sink:
                continue
            table = pq.read_table(sink).to_pandas()
            problems, bytes_out = check_renditions(table)
            with open(report, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            if digest != self.REPORT_SHA256:
                problems.append(f"report sha256 {digest} differs from the pinned one")
            if problems:
                m.fail(f"pass {i} output", "; ".join(problems[:5]))
            docs += len(table)
            for k, v in bytes_out.items():
                total[k] += v
        m.per_layer["renditions.docs"] = float(docs)
        m.per_layer["renditions.bytes_out"] = float(sum(total.values()))
        for k, v in total.items():
            m.per_layer[f"renditions.{k}_bytes"] = float(v)


# --------------------------------------------------------------------------
# analytics_mix

# (query name, layer that owns it). Each round runs every entry once, in
# a seeded order, so a run's query mix does not depend on its seed.
ANALYTICS_QUERIES = [
    ("q12_top_orders_per_customer", "operators.relational"),
    ("q30_tumbling_hourly", "operators.events"),
    ("q70_cheapest_supplier_per_nation", "operators.subqueries"),
    ("q50_knn_bruteforce", "operators.similarity"),
    ("q97_quality_filter", "operators.textops"),
    ("q45_exact_dedup", "operators.dedup"),
    ("q95_dedup_retention", "operators.sketches"),
    ("q115_packed_shards", "operators.assembly"),
]


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical rows (the registry's oracle rule)."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if hasattr(v, "item"):
                v = v.item()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("∅")
            elif isinstance(v, float):
                row.append(repr(v))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return rows


def result_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(repr(canon(df)).encode()).hexdigest()


class AnalyticsMix:
    """Closed loop, one client: read-only registry queries over seeded
    star-schema, event, document and embedding tables.

    Set-up builds the state the reads run against: it persists the dedup
    retention list and the benchmark gram index, stages the curated
    release over them (plans.release), and ingests the event log —
    delivered as late, out-of-order slices — through the streaming
    window counts into a foreachBatch parquet sink (streaming.jobs).
    Each measured result is checked against its DuckDB oracle."""

    name = "analytics_mix"
    N_DOCS = 300
    N_SLICES = 3
    MIN_ROUNDS = 3

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "tables")
        self.slices = os.path.join(work, "slices")
        self.retention = os.path.join(work, "retention")
        self.bench_grams = os.path.join(work, "bench_grams")
        self.release = os.path.join(work, "release")
        self.windows = os.path.join(work, "window_counts")
        self.results: list[tuple[str, str]] = []  # (query, result hash)
        self.listener = None

    def prepare(self) -> None:
        inputs.write_tables(self.data, self.seed, n_docs=self.N_DOCS)
        self.log = inputs.write_event_slices(
            self.slices, self.seed, self.N_SLICES, inputs.EVENTS
        )

    def setup(self, spark, tracer) -> None:
        from tracing import StreamProgress

        _mod("operators.sketches").write_retention(spark, self.data, self.retention)
        _mod("operators.textops").write_bench_gram_index(
            spark, self.data, self.bench_grams
        )
        with tracer.span("plans.release", "stage_release"):
            _mod("plans.release").curated_corpus(
                spark, self.data, self.retention, self.bench_grams
            ).write.parquet(self.release)
        self.listener = StreamProgress()
        spark.streams.addListener(self.listener)
        jobs = _mod("streaming.jobs")
        self.n_batches = jobs.run_foreach_batch_parquet(
            jobs.tumbling_counts(jobs.stream_events_files(spark, self.slices)),
            self.windows, mode="update",
            checkpoint_dir=os.path.join(self.work, "ckpt_windows"),
        )

    def measure(self, spark, tracer, seconds: float) -> Measured:
        queries = _mod("queries").all_queries()
        owner = dict(ANALYTICS_QUERIES)
        names = [n for n, _ in ANALYTICS_QUERIES]
        m = Measured()
        by_query: dict[str, list[float]] = {}
        t_start = time.perf_counter()
        rnd = 0
        while rnd < self.MIN_ROUNDS or time.perf_counter() - t_start < seconds:
            for name in inputs.query_round(self.seed, rnd, names):
                m.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(owner[name], name):
                        pdf = queries[name](spark, self.data).toPandas()
                except Exception as exc:  # noqa: BLE001 - counted as a failed op
                    m.fail(name, exc)
                    continue
                m.latencies.append(time.perf_counter() - t0)
                m.names.append(name)
                by_query.setdefault(name, []).append(m.latencies[-1])
                m.items += 1
                self.results.append((name, result_hash(pdf)))
            rnd += 1
        m.wall_s = time.perf_counter() - t_start
        by_layer: dict[str, list[float]] = {}
        for name, lat in by_query.items():
            by_layer.setdefault(owner[name], []).extend(lat)
        for layer, lat in by_layer.items():
            m.per_layer[f"{layer.split('.')[-1]}.query_p50_s"] = statistics.median(lat)
        if tracer.enabled:
            dropped = pd.read_parquet(self.retention)
            m.per_layer["dedup.dropped_docs"] = float(len(dropped))
            m.per_layer["dedup.clusters"] = float(dropped.iloc[:, -1].nunique())
            self._stream_layer_metrics(tracer, m)
        return m

    def _stream_layer_metrics(self, tracer, m: Measured) -> None:
        self.listener.wait_for(self.n_batches)
        batches = [b for b in self.listener.batches if b["rows"] > 0]
        tracer.charge_groups("streaming.jobs", self.listener.run_ids)
        m.per_layer["streaming.batches"] = float(len(batches))
        m.per_layer["streaming.batch_p50_s"] = statistics.median(
            b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in batches
        )
        for key, metric in (
            ("addBatch", "add_batch_s"),
            ("commitOffsets", "commit_s"),
            ("queryPlanning", "planning_s"),
        ):
            m.per_layer[f"streaming.{metric}"] = sum(
                b["duration_ms"].get(key, 0) for b in batches
            ) / 1e3

    def check(self, spark, m: Measured) -> None:
        import duckdb

        oracles = _mod("queries").all_oracles()
        con = duckdb.connect()
        try:
            for f in os.listdir(self.data):
                path = os.path.join(self.data, f)
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{path}'"
                )
            expected = {
                name: result_hash(con.execute(oracles[name]).df())
                for name in {n for n, _ in self.results}
            }
        finally:
            con.close()
        for name, h in self.results:
            if h != expected[name]:
                m.fail(name, "result differs from its DuckDB oracle")
        # set-up state has no oracle. The staged release must exclude the
        # held-out benchmark source and every doc the retention list
        # drops; the streamed window counts must equal a batch groupBy.
        m.attempted += 2
        shipped = pd.read_parquet(self.release, columns=["doc_id", "source"])
        dropped = set(pd.read_parquet(self.retention)["doc_id"])
        bench = _mod("operators.textops").DECON_BENCH_SOURCE
        if (shipped["source"] == bench).any() or dropped & set(shipped["doc_id"]):
            m.fail("release", "held-out or dropped docs were shipped")
        if not window_counts_match(pd.read_parquet(self.windows), self.log):
            m.fail("window_counts", "final window counts differ from a batch groupBy")


def window_counts_match(sink: pd.DataFrame, log: pd.DataFrame) -> bool:
    """Final hourly (window, event_type) counts from an update-mode sink
    (newest batch's row per window wins) against a batch groupBy over
    the whole event log."""
    want = (
        log.assign(window_start=log["ts"].dt.floor("h").dt.strftime("%Y-%m-%d %H:%M:%S"))
        .groupby(["window_start", "event_type"])
        .agg(n_events=("event_id", "size"), sum_value=("value", "sum"))
    )
    got = (
        sink.assign(batch=sink["batch"].astype(int))
        .sort_values("batch")
        .groupby(["window_start", "event_type"])
        .last()
    )
    if not got.index.sort_values().equals(want.index.sort_values()):
        return False
    got = got.loc[want.index]
    return bool(
        (got["n_events"].values == want["n_events"].values).all()
        and (abs(got["sum_value"].values - want["sum_value"].values) < 1e-6).all()
    )


WORKLOADS = {w.name: w for w in (SitPipeline, AnalyticsMix)}
