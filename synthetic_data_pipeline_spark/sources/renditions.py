"""Binary format renditions + extraction (SURVEY.md §2.1 S6-S8, S12-S15)
— the reference's postprocessor/validator file-format edges re-expressed
as Arrow-batched pandas UDFs over BinaryType columns.

Library policy (this container ships none of python-docx / pypdf /
reportlab): docx/pdf renderers try the real library first and otherwise
fall back to a DETERMINISTIC STUB container (magic header + UTF-8
payload) that the matching extractor understands, so the full
render → write → binaryFile-scan → extract → validate loop is real
Spark plumbing end-to-end with or without the libs. The EML path uses
only the stdlib and is fully real (MIME multipart, attachments —
postprocessor.py:93-115), and the XLSX path is fully real via the
stdlib SpreadsheetML writer/reader in ``sources/xlsx.py`` — no
openpyxl, no stub.

The PDF line-wrap logic (100-char wrap, postprocessor.py:55-75) is real
and applied before packaging regardless of backend.

Scale: renders run inside mapInPandas/pandas_udf — Arrow batches, no
per-row Python round trips; the one-file-per-row sink (S9/S13-S15) is a
foreachPartition writer, each task writing its partition's files
directly to shared storage with no driver involvement.
"""

from __future__ import annotations

import os
from email import policy
from email.message import EmailMessage
from email.parser import BytesParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType
from pyspark.sql.functions import pandas_udf

from .xlsx import read_xlsx, write_xlsx

_DOCX_MAGIC = b"SDPS-FAKE-DOCX\x00"
_PDF_MAGIC = b"SDPS-FAKE-PDF\x00"


def _try_import(name: str):
    try:
        return __import__(name)
    except ImportError:
        return None


def wrap_lines(text: str, width: int = 100) -> list[str]:
    """Reference PDF wrap: break at the last space before ``width``,
    hard-break words longer than the width (postprocessor.py:55-75
    semantics, re-derived)."""
    out: list[str] = []
    for para in text.split("\n"):
        while len(para) > width:
            cut = para.rfind(" ", 0, width + 1)
            if cut <= 0:
                cut = width
            out.append(para[:cut].rstrip())
            para = para[cut:].lstrip()
        out.append(para)
    return out


# --- renderers (text -> bytes) -------------------------------------------


def render_docx_bytes(text: str) -> bytes:
    docx = _try_import("docx")
    if docx is not None:  # pragma: no cover - lib absent in this env
        import io

        doc = docx.Document()
        for para in text.split("\n"):
            doc.add_paragraph(para)
        buf = io.BytesIO()
        doc.save(buf)
        return buf.getvalue()
    return _DOCX_MAGIC + text.encode("utf-8")


def render_pdf_bytes(text: str) -> bytes:
    # real path would use reportlab (postprocessor.py:49-77); the wrap
    # logic runs either way so layout behavior is exercised.
    lines = wrap_lines(text, 100)
    reportlab = _try_import("reportlab")
    if reportlab is not None:  # pragma: no cover
        import io

        from reportlab.lib.pagesizes import letter
        from reportlab.pdfgen import canvas

        buf = io.BytesIO()
        c = canvas.Canvas(buf, pagesize=letter)
        y = 750
        for ln in lines:
            if y < 50:
                c.showPage()
                y = 750
            c.drawString(40, y, ln)
            y -= 14  # 12pt leading + 2
        c.save()
        return buf.getvalue()
    return _PDF_MAGIC + "\n".join(lines).encode("utf-8")


def render_xlsx_bytes(rows: list[tuple[str, str]]) -> bytes:
    """Real one-sheet workbook bytes via the stdlib SpreadsheetML writer
    (postprocessor.py:79-91's mapping rendition) — no library gate, no
    stub container."""
    return write_xlsx(rows)


def render_eml_bytes(
    text: str, subject: str, attachments: list[tuple[str, bytes]] | None = None
) -> bytes:
    """Real MIME build (stdlib) — postprocessor.py:93-115."""
    msg = EmailMessage()
    msg["Subject"] = subject
    msg["From"] = "records@synthetic.invalid"
    msg["To"] = "archive@synthetic.invalid"
    msg.set_content(text)
    for fname, data in attachments or []:
        msg.add_attachment(
            data,
            maintype="application",
            subtype="octet-stream",
            filename=fname,
        )
    return bytes(msg)


# --- extractors (bytes -> text) ------------------------------------------


def extract_docx_text(data: bytes) -> str:
    if data.startswith(_DOCX_MAGIC):
        return data[len(_DOCX_MAGIC):].decode("utf-8")
    docx = _try_import("docx")
    if docx is None:
        raise NotImplementedError("real .docx given but python-docx missing")
    import io  # pragma: no cover

    return "\n".join(p.text for p in docx.Document(io.BytesIO(data)).paragraphs)


def extract_pdf_text(data: bytes) -> str:
    if data.startswith(_PDF_MAGIC):
        return data[len(_PDF_MAGIC):].decode("utf-8")
    pypdf = _try_import("pypdf")
    if pypdf is None:
        raise NotImplementedError("real .pdf given but pypdf missing")
    import io  # pragma: no cover

    reader = pypdf.PdfReader(io.BytesIO(data))
    return "\n".join(page.extract_text() or "" for page in reader.pages)


def extract_xlsx_rows(data: bytes) -> list[list[str]]:
    """Inverse of ``render_xlsx_bytes`` — the validator's xlsx mapping
    scan (validator.py:27-34). Stdlib zip+XML parse; also reads
    shared-string workbooks produced by Excel/openpyxl."""
    return read_xlsx(data)


def extract_eml_text(data: bytes) -> str:
    """Walk multipart, keep text/plain (validator.py:89-103)."""
    msg = BytesParser(policy=policy.default).parsebytes(data)
    parts = []
    for part in msg.walk():
        if part.get_content_type() == "text/plain":
            parts.append(part.get_content())
    return "\n".join(parts)


# --- Spark surface --------------------------------------------------------


def render_row(
    fmt: str, text: str, subject: str
) -> tuple[bytes | None, bytes | None, bytes | None]:
    """(docx, pdf, eml) for one document, rendering only what its
    format calls for (postprocessor.py:141-189 dispatch): document →
    docx; pdf → docx + pdf; email → eml; email_with_attachment → eml
    with the mapping xlsx rendition as a real MIME attachment
    (postprocessor.py:158-189); chat → nothing."""
    docx = render_docx_bytes(text) if fmt in ("document", "pdf") else None
    pdf = render_pdf_bytes(text) if fmt == "pdf" else None
    eml = None
    if fmt == "email":
        eml = render_eml_bytes(text, subject)
    elif fmt == "email_with_attachment":
        xlsx = render_xlsx_bytes([("field", "value"), ("subject", subject)])
        eml = render_eml_bytes(text, subject, attachments=[("mapping.xlsx", xlsx)])
    return docx, pdf, eml


_RENDITION_COLS = ("docx", "pdf", "eml")


@pandas_udf(StructType([StructField(c, BinaryType()) for c in _RENDITION_COLS]))
def renditions_udf(
    fmt: pd.Series, text: pd.Series, subject: pd.Series
) -> pd.DataFrame:
    return pd.DataFrame(
        [render_row(f, t, s) for f, t, s in zip(fmt, text, subject)],
        columns=list(_RENDITION_COLS),
    )


@pandas_udf(StringType())
def extract_docx_udf(data: pd.Series) -> pd.Series:
    return data.map(extract_docx_text)


@pandas_udf(StringType())
def extract_pdf_udf(data: pd.Series) -> pd.Series:
    return data.map(extract_pdf_text)


@pandas_udf(StringType())
def extract_eml_udf(data: pd.Series) -> pd.Series:
    return data.map(extract_eml_text)


def add_renditions(docs: DataFrame) -> DataFrame:
    """documents(doc_id, format, text) → + docx/pdf/eml binary columns,
    NULL where the row's format calls for no such rendition. One UDF
    call per row renders only what ``render_row`` dispatches to; a
    ``F.when`` per column around one UDF per rendition would still run
    every UDF on every row."""
    subject = F.concat(F.lit("document "), F.col("doc_id").cast("string"))
    return docs.withColumn(
        "_r", renditions_udf("format", "text", subject)
    ).select(*docs.columns, *[f"_r.{c}" for c in _RENDITION_COLS])


def write_files_per_row(
    df: DataFrame, out_dir: str, name_col: str = "filename", data_col: str = "data"
) -> None:
    """One named file per row (S9/S13-S15): foreachPartition writer —
    Spark's directory-per-write model can't produce N named files, so
    each executor task writes its partition's rows directly
    (SURVEY.md §4.3.4)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(rows) -> None:
        for r in rows:
            data = r[data_col]
            if data is None:
                continue
            mode, payload = (
                ("wb", data) if isinstance(data, (bytes, bytearray))
                else ("w", str(data))
            )
            with open(os.path.join(out_dir, r[name_col]), mode) as f:
                f.write(payload)

    df.select(name_col, data_col).foreachPartition(_write)


def read_binary_dir(spark, path: str, glob: str | None = None) -> DataFrame:
    """binaryFile scan (S5-S8 ingest side)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def run_log_lines(rendered: DataFrame) -> DataFrame:
    """S16 run-log sink, Spark-first (reference: postprocessor.py's
    ``logging.basicConfig(filename=output/postprocess.log)`` with one
    ``Processed doc_id N: docx=... pdf=... eml=...`` INFO line per doc
    at postprocessor.py:193 and WARNING lines for rows missing an
    input at :122-133). On a cluster, executor-side ``logging`` calls
    land in N scattered executor logs — the reason earlier rounds
    delegated this row to the Spark event log. The Spark-native
    equivalent produces the per-doc events AS DATA: one log-line row
    per rendered document, derived from the rendition frame itself, so
    the "log" is an ordinary distributed text dataset (write it with
    ``write_run_log``, join it, filter WARNs, aggregate error rates —
    none of which a flat file supports). Severity mirrors the
    reference: INFO for a doc whose requested renditions all
    materialized, WARNING when one is missing. Deterministic by
    design: no wall-clock timestamp inside the rows (the reference's
    asctime prefix is run metadata, not doc data — ``write_run_log``
    stamps it once in the header)."""
    n_or_null = [
        F.when(F.col(c).isNotNull(), F.length(c)).alias(f"{c}_bytes")
        for c in ("docx", "pdf", "eml")
    ]
    base = rendered.select("doc_id", "format", "text", *n_or_null)
    wants = {
        "docx": F.col("format") == "docx",
        "pdf": F.col("format") == "pdf",
        "eml": F.col("format").isin("email", "email_with_attachment"),
    }
    missing = F.concat_ws(
        ",",
        *[
            F.when(wants[c] & F.col(f"{c}_bytes").isNull(), F.lit(c))
            for c in ("docx", "pdf", "eml")
        ],
    )
    return base.select(
        "doc_id",
        F.when(missing != "", F.lit("WARNING"))
        .otherwise(F.lit("INFO"))
        .alias("level"),
        F.concat(
            F.when(missing != "", F.concat(F.lit("missing="), missing, F.lit(" ")))
            .otherwise(F.lit("")),
            F.lit("Processed doc_id "),
            F.col("doc_id").cast("string"),
            F.lit(": format="),
            F.col("format"),
            F.lit(" chars="),
            F.length("text").cast("string"),
            F.lit(" docx="),
            F.coalesce(F.col("docx_bytes").cast("string"), F.lit("-")),
            F.lit(" pdf="),
            F.coalesce(F.col("pdf_bytes").cast("string"), F.lit("-")),
            F.lit(" eml="),
            F.coalesce(F.col("eml_bytes").cast("string"), F.lit("-")),
        ).alias("message"),
    )


def write_run_log(rendered: DataFrame, out_dir: str) -> int:
    """Materialize the S16 run log: per-doc lines as a partitioned
    text dataset under ``{out_dir}/lines`` (scale-safe — no
    single-file coalesce bottleneck) plus a driver-written
    ``{out_dir}/HEADER`` carrying the started/finished lines the
    reference logs at postprocessor.py:197,233 (the only place a
    wall-clock timestamp appears). Returns the number of per-doc
    lines written."""
    import datetime

    lines = run_log_lines(rendered).select(
        F.concat_ws(" ", "level", "message").alias("value")
    )
    # start stamp BEFORE the write, finish stamp after (ADVICE r9 —
    # one post-write timestamp made 'started' a lie); the count comes
    # from the WRITTEN dataset, not a second pass over the lineage
    started = datetime.datetime.now(datetime.timezone.utc).isoformat()
    lines.write.mode("overwrite").text(f"{out_dir}/lines")
    spark = rendered.sparkSession
    n = spark.read.text(f"{out_dir}/lines").count()
    finished = datetime.datetime.now(datetime.timezone.utc).isoformat()
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/HEADER", "w") as fh:
        fh.write(
            f"{started} INFO Postprocessor started.\n"
            f"{finished} INFO Postprocessor finished: {n} documents.\n"
        )
    return n
