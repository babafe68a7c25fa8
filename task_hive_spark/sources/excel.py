"""Excel sheet source (S1): the reference's spider input.

The reference reads ``spider.xlsx`` with tealeg/xlsx
(tasks/spider.go:21-49): sheet 0, skip the header row, coerce every
cell to string, fan each row out into a task. Spark has no built-in
xlsx reader and no xlsx engine (openpyxl/xlrd) ships in this
container, so ``read_sheet`` parses the OOXML container directly with
the stdlib (zipfile + ElementTree): an .xlsx is a zip holding the
sheet XML and a shared-string table, and the subset a task sheet uses
— shared/inline strings and plain numeric cells — is ~60 lines to
read. Sheet files are KB-to-MB sized control inputs, not data-plane
files: at 100 TB scale the sheet is still one driver-side read that
*produces* the distributed task stream.

``sheet_rows_standin`` provides the deterministic parquet stand-in the
oracle suite uses (SURVEY §2.1 maps S1 to it), so the downstream
operators (row fan-out, cell coercion, task compose) are oracle-checked
on driver fixtures while ``read_sheet`` is tested against the
reference's real ``spider.xlsx`` (658 rows, A1:I658).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.functions.rows import rows_frame

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_NS = {"r": "http://schemas.openxmlformats.org/package/2006/relationships"}


def _col_index(ref: str) -> int:
    """'A1' → 0, 'BC12' → 54: base-26 column letters of an A1 ref."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    # an <si> is plain <t> or rich-text runs; concatenating every
    # descendant <t> covers both (what tealeg/xlsx's String() yields)
    return [
        "".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t"))
        for si in root.findall("m:si", _NS)
    ]


def _sheet0_target(z: zipfile.ZipFile) -> str:
    """Resolve the first workbook sheet's worksheet part via the
    workbook relationships (sheet order in workbook.xml is the
    user-visible order; the filename is NOT guaranteed to be
    sheet1.xml)."""
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    first = wb.find("m:sheets/m:sheet", _NS)
    if first is None:
        return "xl/worksheets/sheet1.xml"
    rid = first.get("{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id")
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.findall("r:Relationship", _REL_NS):
        if rel.get("Id") == rid:
            target = rel.get("Target")
            # OPC Targets may be absolute part names ('/xl/...'); only
            # relative ones resolve against the xl/ base
            if target.startswith("/"):
                return target.lstrip("/")
            return target if target.startswith("xl/") else f"xl/{target}"
    return "xl/worksheets/sheet1.xml"


def _cell_text(c: ET.Element, shared: list[str]) -> str:
    t = c.get("t", "n")
    if t == "s":
        v = c.find("m:v", _NS)
        return shared[int(v.text)] if v is not None else ""
    if t == "inlineStr":
        return "".join(x.text or "" for x in c.iter(f"{{{_NS['m']}}}t"))
    v = c.find("m:v", _NS)  # n / str / b: the stored value verbatim
    return v.text or "" if v is not None else ""


def sheet_matrix(path: str) -> list[list[str]]:
    """Sheet 0 of an .xlsx as a dense string matrix (rows padded to the
    sheet's widest row; cells placed by their A1 column refs, so sparse
    rows keep their alignment)."""
    with zipfile.ZipFile(path) as z:
        shared = _shared_strings(z)
        root = ET.fromstring(z.read(_sheet0_target(z)))
        rows: list[dict[int, str]] = []
        for row in root.iter(f"{{{_NS['m']}}}row"):
            cells: dict[int, str] = {}
            for c in row.findall("m:c", _NS):
                ref = c.get("r")
                idx = _col_index(ref) if ref else len(cells)
                cells[idx] = _cell_text(c, shared)
            rows.append(cells)
    width = max((max(r) + 1 for r in rows if r), default=0)
    return [[r.get(i, "") for i in range(width)] for r in rows]


def read_sheet(spark: SparkSession, path: str, skip_header: bool = True) -> DataFrame:
    """Read sheet 0 of an xlsx file into (row_id INT, row_data
    ARRAY<STRING>) — the WechatTask shape (model/model.go:25-29), cells
    coerced to string like spider.go:47-50."""
    matrix = sheet_matrix(path)
    if skip_header:
        matrix = matrix[1:]
    rows = [(i + 1, rec) for i, rec in enumerate(matrix)]
    return rows_frame(spark, rows, "row_id INT, row_data ARRAY<STRING>")


def sheet_rows_standin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-fixture stand-in for the spider sheet: ``part`` rows
    as (row_id, row_data) with the same string coercion (decimal cells
    via fixed-scale decimal so formatting is engine-portable)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return p.select(
        F.col("p_partkey").cast("int").alias("row_id"),
        F.array(
            F.col("p_name"),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size").cast("string"),
            F.col("p_retailprice").cast("decimal(12,2)").cast("string"),
        ).alias("row_data"),
    )
