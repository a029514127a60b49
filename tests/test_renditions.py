"""Round-trip tests for the binary rendition loop: render → one-file-
per-row sink → binaryFile scan → extract → text equality. EML is fully
real (stdlib MIME); docx/pdf exercise the deterministic stub containers
with the real wrap logic and the real Spark plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synthetic_data_pipeline_spark.sources.renditions import (
    add_renditions,
    extract_docx_udf,
    extract_eml_udf,
    extract_pdf_udf,
    read_binary_dir,
    wrap_lines,
    write_files_per_row,
)

DOCS = [
    (1, "email", "subject: hello | SSN 123-45-6789 inside this email body"),
    (2, "pdf", "a rather long line " * 20),
    (3, "document", "plain document body with a few words"),
    (4, "email_with_attachment", "body with attachment expectations"),
    (5, "chat", "chat text needs no rendition"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, format string, text string")


def test_wrap_lines_width():
    lines = wrap_lines("word " * 50, 20)
    assert all(len(ln) <= 20 for ln in lines)
    assert " ".join(" ".join(lines).split()) == ("word " * 50).strip()


def test_rendition_dispatch_and_roundtrip(spark, docs):
    r = add_renditions(docs).cache()
    rows = {x.doc_id: x for x in r.collect()}
    assert rows[1].eml is not None and rows[1].docx is None
    assert rows[2].pdf is not None and rows[2].docx is not None
    assert rows[3].docx is not None and rows[3].pdf is None
    assert rows[5].docx is None and rows[5].pdf is None and rows[5].eml is None

    back = (
        r.filter(F.col("eml").isNotNull())
        .select("doc_id", "text", extract_eml_udf("eml").alias("out"))
        .collect()
    )
    for x in back:
        assert x.out.strip() == x.text.strip()

    back_docx = (
        r.filter(F.col("docx").isNotNull())
        .select("text", extract_docx_udf("docx").alias("out"))
        .collect()
    )
    for x in back_docx:
        assert x.out == x.text

    # pdf round-trip modulo line-wrapping
    back_pdf = (
        r.filter(F.col("pdf").isNotNull())
        .select("text", extract_pdf_udf("pdf").alias("out"))
        .collect()
    )
    for x in back_pdf:
        assert " ".join(x.out.split()) == " ".join(x.text.split())


def test_render_row_dispatch():
    """Per-row dispatch of the single rendition UDF, as plain Python:
    each format renders exactly the renditions it calls for."""
    import email

    from synthetic_data_pipeline_spark.sources.renditions import render_row

    assert render_row("chat", "hi", "document 5") == (None, None, None)
    docx, pdf, eml = render_row("pdf", "body", "document 2")
    assert docx is not None and pdf is not None and eml is None
    docx, pdf, eml = render_row("document", "body", "document 3")
    assert docx is not None and pdf is None and eml is None
    docx, pdf, eml = render_row("email", "body", "document 1")
    assert docx is None and pdf is None
    assert not email.message_from_bytes(eml).is_multipart()
    docx, pdf, eml = render_row("email_with_attachment", "body", "document 4")
    assert docx is None and pdf is None
    names = [
        p.get_filename() for p in email.message_from_bytes(eml).walk()
        if p.get_filename()
    ]
    assert names == ["mapping.xlsx"]


def test_file_sink_and_binary_scan(spark, docs, tmp_path):
    out = str(tmp_path / "files")
    named = add_renditions(docs).filter(F.col("eml").isNotNull()).select(
        F.format_string("doc_%05d.eml", F.col("doc_id")).alias("filename"),
        F.col("eml").alias("data"),
    )
    write_files_per_row(named, out)
    scanned = read_binary_dir(spark, out, "*.eml")
    assert scanned.count() == named.count()
    texts = scanned.select(extract_eml_udf("content").alias("t")).collect()
    assert any("SSN 123-45-6789" in x.t for x in texts)


def test_xlsx_roundtrip_real_container():
    """render_xlsx_bytes → extract_xlsx_rows round trip on REAL
    SpreadsheetML workbook bytes (stdlib zip+XML, no openpyxl), with
    XML-hostile values and deterministic output bytes."""
    from synthetic_data_pipeline_spark.sources.renditions import (
        extract_xlsx_rows,
        render_xlsx_bytes,
    )

    rows = [
        ("doc_id", "sit_ids"),
        ("7", "SIT_SSN;SIT_CCN"),
        ("9", ""),
        ("<tag>&amp;", "  spaced  "),
    ]
    data = render_xlsx_bytes(rows)
    assert data[:2] == b"PK", "expected a real zip-container workbook"
    assert extract_xlsx_rows(data) == [list(r) for r in rows]
    assert data == render_xlsx_bytes(rows), "workbook bytes must be stable"


def test_xlsx_reads_shared_strings_and_sparse_refs():
    """The reader handles what Excel/openpyxl actually emit: shared
    strings (t=\"s\"), rich-text runs, plain <v> numbers, and sparse
    r=\"C2\"-style cell refs with gaps."""
    import io
    import zipfile

    from synthetic_data_pipeline_spark.sources.renditions import (
        extract_xlsx_rows,
        render_xlsx_bytes,
    )

    base = render_xlsx_bytes([("placeholder",)])
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1"><v>42</v></c></row>'
        '<row r="2"><c r="B2" t="s"><v>1</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        f'<sst xmlns="{ns}" count="2" uniqueCount="2">'
        "<si><t>plain</t></si>"
        "<si><r><t>ri</t></r><r><t>ch</t></r></si>"
        "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(base)) as zin, zipfile.ZipFile(
        buf, "w"
    ) as zout:
        for name in zin.namelist():
            if name != "xl/worksheets/sheet1.xml":
                zout.writestr(name, zin.read(name))
        zout.writestr("xl/worksheets/sheet1.xml", sheet)
        zout.writestr("xl/sharedStrings.xml", shared)
    assert extract_xlsx_rows(buf.getvalue()) == [
        ["plain", "", "42"],
        ["", "rich"],
    ]


def test_run_log_sink(spark, tmp_path):
    """S16: the run log is per-doc log lines AS DATA — INFO for docs
    whose requested renditions materialized, WARNING naming the
    missing ones (reference postprocessor.py:122-133,193 semantics) —
    written as a partitioned text dataset plus a driver HEADER with
    the started/finished lines."""
    from synthetic_data_pipeline_spark.sources.renditions import (
        run_log_lines,
        write_run_log,
    )

    rows = [
        (1, "docx", "hello world", b"\x50\x4b", None, None),   # ok
        (2, "pdf", "text two", None, None, None),               # pdf MISSING
        (3, "txt", "plain", None, None, None),                  # nothing wanted
        (4, "email", "body", None, None, "From: a@b\n\nbody"),  # ok
    ]
    rendered = spark.createDataFrame(
        rows,
        "doc_id long, format string, text string, docx binary, "
        "pdf binary, eml string",
    )
    lines = {r.doc_id: (r.level, r.message) for r in run_log_lines(rendered).collect()}
    assert lines[1][0] == "INFO" and "docx=2" in lines[1][1]
    assert lines[2][0] == "WARNING" and "missing=pdf" in lines[2][1]
    assert lines[3][0] == "INFO" and "docx=- pdf=- eml=-" in lines[3][1]
    assert lines[4][0] == "INFO" and lines[4][1].endswith(
        "eml=" + str(len("From: a@b\n\nbody"))
    )

    out = str(tmp_path / "runlog")
    n = write_run_log(rendered, out)
    assert n == 4
    back = spark.read.text(f"{out}/lines").collect()
    assert len(back) == 4
    assert any(v.value.startswith("WARNING missing=pdf") for v in back)
    with open(f"{out}/HEADER") as fh:
        hdr = fh.read()
    assert "Postprocessor started." in hdr
    assert "finished: 4 documents." in hdr
