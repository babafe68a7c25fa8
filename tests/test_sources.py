"""Excel source: stdlib OOXML reader against the reference's real
sheet + deterministic stand-in shape."""

from __future__ import annotations

from task_hive_spark.sources.excel import (
    _col_index,
    read_sheet,
    sheet_matrix,
    sheet_rows_standin,
)

SPIDER_XLSX = "/root/reference/spider.xlsx"


def test_col_index():
    assert [_col_index(r) for r in ("A1", "B1", "Z9", "AA1", "BC12")] == [
        0,
        1,
        25,
        26,
        54,
    ]


def test_sheet_matrix_reads_reference_sheet():
    """The reference's only real dataset (spider.xlsx, dimension
    A1:I658 — tasks/spider.go:32-50 reads it with tealeg/xlsx) parses
    with the stdlib zip+XML reader: 657 data rows + header, 9 dense
    string columns."""
    m = sheet_matrix(SPIDER_XLSX)
    assert len(m) == 658
    assert all(len(r) == 9 for r in m)
    assert m[0][0] == "taskId"  # header row present pre-skip
    assert all(isinstance(c, str) for r in m for c in r)
    # every data row carries a task id (the fan-out key, spider.go:42)
    assert all(r[0] for r in m[1:])


def test_read_sheet_real(spark):
    """read_sheet = header-skipped sheet as (row_id, row_data) rows —
    the WechatTask fan-out input shape."""
    df = read_sheet(spark, SPIDER_XLSX)
    assert df.columns == ["row_id", "row_data"]
    rows = df.orderBy("row_id").collect()
    assert len(rows) == 657  # 658 minus the header
    assert rows[0]["row_id"] == 1 and rows[-1]["row_id"] == 657
    assert all(len(r["row_data"]) == 9 for r in rows)


def test_standin_shape(spark, sf_dir):
    df = sheet_rows_standin(spark, sf_dir)
    assert df.columns == ["row_id", "row_data"]
    row = df.orderBy("row_id").first()
    assert row["row_id"] >= 0
    # five string cells per row, decimal cell rendered at fixed scale
    assert len(row["row_data"]) == 5
    assert all(isinstance(c, str) for c in row["row_data"])
    assert "." in row["row_data"][4]


def test_jsonl_and_csv_roundtrip_lossless(spark, sf_dir):
    """The ingest connectors must round-trip the escaping-hostile
    derived corpus byte-losslessly: reading back the written files and
    re-deriving from parquet must agree row-for-row on (doc_id, text),
    including the injected comma/quote/backslash tails."""
    from pyspark.sql import functions as F

    from task_hive_spark.sources import textfiles

    want = {
        r["doc_id"]: r["text"]
        for r in textfiles._derived(spark, sf_dir).collect()
    }
    for fmt, reader in (
        ("json", lambda p: spark.read.schema(textfiles.DOC_SCHEMA).json(p)),
        (
            "csv",
            lambda p: spark.read.schema(textfiles.DOC_SCHEMA)
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(p),
        ),
        ("orc", lambda p: spark.read.schema(textfiles.DOC_SCHEMA).orc(p)),
    ):
        path = textfiles._ingest_dir(spark, sf_dir, fmt)
        got = {r["doc_id"]: r["text"] for r in reader(path).collect()}
        assert got == want, fmt


def test_sheet0_target_resolves_absolute_opc_paths(tmp_path):
    """OPC relationship Targets may be absolute part names ('/xl/...');
    the resolver must strip the leading slash instead of prefixing
    'xl/' onto it (which produced 'xl//xl/...' and a KeyError)."""
    import zipfile

    from task_hive_spark.sources.excel import sheet_matrix

    ns_m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ns_r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    path = tmp_path / "abs_target.xlsx"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns_m}" xmlns:r="{ns_r}">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="/xl/worksheets/s9.xml"/>'
            "</Relationships>",
        )
        z.writestr(
            "xl/worksheets/s9.xml",
            f'<worksheet xmlns="{ns_m}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>hello</t></is></c>'
            '<c r="B1"><v>7</v></c></row>'
            "</sheetData></worksheet>",
        )
    assert sheet_matrix(str(path)) == [["hello", "7"]]


def test_xml_roundtrip_lossless(spark, sf_dir, tmp_path):
    """The native-XML connector must round-trip the markup-hostile
    derivation byte-losslessly: raw & < > and quotes written as
    entities must read back as the original characters, row-for-row."""
    from task_hive_spark.sources import textfiles

    want = {
        r["doc_id"]: r["text"]
        for r in textfiles._derived(spark, sf_dir, textfiles._XML_TAIL).collect()
    }
    assert any("<angle>" in t for t in want.values())
    # force the write, then read raw bytes: the file must NOT contain
    # the raw markup-hostile tail (it must be entity-escaped on disk)
    textfiles.src_xml_roundtrip(spark, sf_dir).collect()
    import os

    path = textfiles._ingest_dir(spark, sf_dir, "xml")  # the memoized write
    raw = b"".join(
        open(os.path.join(path, f), "rb").read()
        for f in os.listdir(path)
        if f.endswith(".xml")
    )
    assert b"<angle>" not in raw, "raw markup leaked into the XML payload"
    # '<' and '&' MUST be entity-escaped; '>' may legally stay literal
    assert b"&lt;angle" in raw
    assert b"x &amp; y" in raw
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.format("xml")
        .schema(textfiles.DOC_SCHEMA)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .load(path)
        .collect()
    }
    assert got == want

    # surrounding-whitespace regression: the reader TRIMS element
    # whitespace unless ignoreSurroundingSpaces=false — the fixtures
    # contain no padded texts, so pin the hazard directly
    one = spark.createDataFrame([(1, "en", "  padded  ")], textfiles.DOC_SCHEMA)
    out2 = str(tmp_path / "padded")
    (
        one.write.format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(out2)
    )
    back = (
        spark.read.format("xml")
        .schema(textfiles.DOC_SCHEMA)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .load(out2)
        .collect()[0]["text"]
    )
    assert back == "  padded  "
