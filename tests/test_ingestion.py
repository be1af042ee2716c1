"""Ingestion & validation layer tests (SURVEY.md §2.1-2.2, §2.11):
readers, mapping projection with the id-cast heuristic, the
cst_gendr -> cst_gndr rename the reference's real data depends on,
V1-V4 validation semantics, and the end-to-end directory ingest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from python_sql_datawarehouse_project_spark.plans.ingest import (
    IngestPlan,
    ingest_directory,
)
from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse
from python_sql_datawarehouse_project_spark.sources.mapping import (
    ColumnMapping,
    apply_mapping,
    normalize_name,
)
from python_sql_datawarehouse_project_spark.sources.readers import (
    UnsupportedSourceError,
    read_source,
)
from python_sql_datawarehouse_project_spark.sources.validation import (
    SourceConfig,
    match_config,
    validate_mapping,
    validate_rows,
    validate_target_schema,
)


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "cust_info_BATCH000001.csv"
    p.write_text(
        "cst_id,cst_key,cst_gendr,amount\n"
        "1.0,K1,F,10.5\n"
        "2.0,K2,M,20.25\n"
        ",K3,,30.0\n"  # null id, blank gender
        "2.0,K2,M,20.25\n"  # exact dup of row 2
    )
    return str(p)


MAPPINGS = [
    ColumnMapping("cst_id", "cst_id", "integer"),
    ColumnMapping("cst_key", "cst_key", "string"),
    ColumnMapping("cst_gendr", "cst_gndr", "string"),  # genuine rename
    ColumnMapping("amount", "amount", "numeric"),
]


# -- readers ----------------------------------------------------------
def test_csv_reader_infers(spark, csv_file):
    df = read_source(spark, csv_file, "csv")
    assert df.columns == ["cst_id", "cst_key", "cst_gendr", "amount"]
    assert df.count() == 4


def test_json_reader_lines_and_whole_doc(spark, tmp_path):
    lines = tmp_path / "d.json"
    lines.write_text('{"a": 1}\n{"a": 2}\n')
    assert read_source(spark, str(lines), "json").count() == 2
    whole = tmp_path / "w.json"
    whole.write_text(json.dumps([{"a": 1}, {"a": 2}, {"a": 3}]))
    assert read_source(spark, str(whole), "json").count() == 3


def test_unknown_format_raises(spark):
    with pytest.raises(UnsupportedSourceError):
        read_source(spark, "/nonexistent", "avro")


# -- mapping projection (P1-P3) --------------------------------------
def test_mapping_rename_and_id_cast(spark, csv_file):
    df = read_source(spark, csv_file, "csv")
    out = apply_mapping(df, MAPPINGS, batch_id="BATCH000042")
    assert out.columns == ["cst_id", "cst_key", "cst_gndr", "amount", "dwh_batch_id"]
    rows = {r.cst_key: r for r in out.collect()}
    # P2: inference-mangled double ids -> clean longs
    assert rows["K1"].cst_id == 1 and isinstance(rows["K1"].cst_id, int)
    assert rows["K3"].cst_id is None
    # P3: batch stamp on every row
    assert all(r.dwh_batch_id == "BATCH000042" for r in rows.values())


def test_mapping_matches_normalized_headers(spark):
    df = spark.createDataFrame([(1, "x")], [" Cst ID ", "CST KEY"])
    out = apply_mapping(
        df,
        [ColumnMapping("cst_id", "cst_id", "int"),
         ColumnMapping("cst_key", "cst_key", "string")],
    )
    assert out.columns == ["cst_id", "cst_key"]
    assert normalize_name("  Cst  Gendr ") == "cst_gendr"


# -- V1 config match --------------------------------------------------
CONFIGS = [
    SourceConfig("crm", "csv", "cust_info", "crm_cust_info"),
    SourceConfig("erp", "csv", "loc_a101", "erp_loc_a101"),
]


def test_config_match_and_quarantine():
    assert match_config("cust_info_BATCH000001.csv", "crm", CONFIGS).target_table == "crm_cust_info"
    assert match_config("cust_info_BATCH000001.csv", "erp", CONFIGS) is None
    assert match_config("unknown.csv", "crm", CONFIGS) is None
    assert match_config("cust_info.parquet", "crm", CONFIGS) is None


# -- V2 mapping validation -------------------------------------------
def test_mapping_validation_reports_missing_and_extra(spark):
    df = spark.createDataFrame([(1, "a")], ["cst_id", "surprise"])
    mv = validate_mapping(df, ["cst_id", "cst_key"])
    assert not mv.ok
    assert mv.missing == ["cst_key"] and mv.extra == ["surprise"]


# -- V3 row validation ------------------------------------------------
def test_row_validation_nulls_and_dups(spark, csv_file):
    df = read_source(spark, csv_file, "csv")
    out = apply_mapping(df, MAPPINGS)
    rv = validate_rows(out, ["cst_id", "cst_gndr"])
    assert not rv.ok
    assert rv.total_rows == 4
    assert rv.null_counts == {"cst_id": 1, "cst_gndr": 1}
    assert rv.duplicate_rows == 1  # the repeated (2, m) key


def test_row_validation_nan_detected(spark):
    df = spark.createDataFrame([(float("nan"),), (1.0,)], "x double")
    rv = validate_rows(df, ["x"])
    assert rv.null_counts == {"x": 1}


# -- V4 target schema -------------------------------------------------
def test_target_schema_validation():
    schema = StructType.fromDDL("cst_id INT, cst_key STRING")
    assert validate_target_schema(["cst_id", "cst_key"], schema) == []
    assert validate_target_schema(["cst_id", "ghost"], schema) == ["ghost"]


# -- end-to-end directory ingest -------------------------------------
def test_ingest_directory_end_to_end(spark, tmp_path, csv_file):
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    os.link(csv_file, incoming / os.path.basename(csv_file))
    (incoming / "mystery_file.csv").write_text("a,b\n1,2\n")
    # matches the cust_info config but lacks mapped columns; it sorts
    # first and shares the LOADED file's bronze table
    (incoming / "cust_info_0_extra.csv").write_text("cst_id,bogus\n1,2\n")

    wh = Warehouse(spark, str(tmp_path / "wh"))
    log = RunLog(str(tmp_path / "wh"))
    plan = IngestPlan(
        configs=CONFIGS,
        mappings={"crm_cust_info": MAPPINGS},
        required={"crm_cust_info": ["cst_id"]},
    )
    results = ingest_directory(
        spark, wh, log, plan, str(incoming), "crm", "BATCH000007"
    )
    # results and log rows come out in sorted file-name order
    assert [(r.file, r.status) for r in results] == [
        ("cust_info_0_extra.csv", "MAPPING_FAILED"),
        ("cust_info_BATCH000001.csv", "LOADED"),
        ("mystery_file.csv", "CONFIG_FAILED"),
    ]
    assert [r["physical_file_name"] for r in log.read("file_audit_log")] == [
        "cust_info_BATCH000001.csv",
        "mystery_file.csv",
    ]
    assert [
        (r["physical_file_name"], r["status"])
        for r in log.read("mapping_validation_log")
    ] == [("cust_info_0_extra.csv", "FAILED"), ("cust_info_BATCH000001.csv", "SUCCESS")]
    by_file = {r.file: r for r in results}
    assert by_file["mystery_file.csv"].status == "CONFIG_FAILED"
    loaded = by_file["cust_info_BATCH000001.csv"]
    assert loaded.status == "LOADED" and loaded.rows == 4

    bronze = wh.read_batch("bronze", "crm_cust_info", "BATCH000007")
    assert bronze.count() == 4
    assert bronze.filter(F.col("cst_gndr") == "F").count() == 1
    # audit + row-validation rows landed
    statuses = {r["physical_file_name"]: r for r in log.read("file_audit_log")}
    assert statuses["mystery_file.csv"]["config_validation_status"] == "FAILED"
    assert statuses["cust_info_BATCH000001.csv"]["load_status"] == "SUCCESS"
    rv = log.read("row_validation_log")[0]
    assert rv["status"] == "FAILED" and rv["duplicate_rows"] == 1  # non-fatal


def _write_minimal_xlsx(path: str) -> None:
    """Hand-rolled OOXML workbook (stdlib zipfile only): 4 columns,
    3 data rows, exercising shared strings, inline strings, booleans,
    integers, floats and an absent cell."""
    import zipfile

    parts = {
        "[Content_Types].xml": """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
 <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
 <Default Extension="xml" ContentType="application/xml"/>
 <Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
 <Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
 <Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>""",
        "_rels/.rels": """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>""",
        "xl/workbook.xml": """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets><sheet name="Landing" sheetId="1" r:id="rId1"/></sheets>
</workbook>""",
        "xl/_rels/workbook.xml.rels": """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
 <Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>""",
        "xl/sharedStrings.xml": """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
 <si><t>id</t></si><si><t>name</t></si><si><t>score</t></si>
 <si><t>active</t></si><si><t>alpha</t></si><si><t>gamma</t></si>
</sst>""",
        "xl/worksheets/sheet1.xml": """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1">
   <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
   <c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>
  </row>
  <row r="2">
   <c r="A2"><v>1</v></c><c r="B2" t="s"><v>4</v></c>
   <c r="C2"><v>1.5</v></c><c r="D2" t="b"><v>1</v></c>
  </row>
  <row r="3">
   <c r="A3"><v>2</v></c>
   <c r="B3" t="inlineStr"><is><t>beta</t></is></c>
   <c r="D3" t="b"><v>0</v></c>
  </row>
  <row r="4">
   <c r="A4"><v>3</v></c><c r="B4" t="s"><v>5</v></c>
   <c r="C4"><v>2.5</v></c><c r="D4" t="b"><v>1</v></c>
  </row>
 </sheetData>
</worksheet>""",
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, xml in parts.items():
            zf.writestr(name, xml)


def test_excel_real_first_sheet_read(spark, tmp_path):
    # S2 parity target: the reference runs pd.read_excel(src,
    # sheet_name=0) (convert_to_parquet.py:186).  With no xlsx engine
    # installed, the stdlib ZIP+XML fallback must still perform a REAL
    # first-sheet read, typed cells and all.
    from python_sql_datawarehouse_project_spark.sources.readers import read_source

    p = str(tmp_path / "landing.xlsx")
    _write_minimal_xlsx(p)
    df = read_source(spark, p, "xlsx")
    assert df.columns == ["id", "name", "score", "active"]
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1].name == "alpha" and rows[1].score == 1.5 and rows[1].active
    assert rows[2].name == "beta" and rows[2].score is None  # absent cell
    assert not rows[2].active
    assert rows[3].name == "gamma" and rows[3].score == 2.5


def test_excel_legacy_xls_still_gated(spark, tmp_path):
    # Binary .xls has no stdlib path: typed gate error, not a crash.
    from python_sql_datawarehouse_project_spark.sources.readers import (
        UnsupportedSourceError,
        read_source,
    )

    p = tmp_path / "legacy.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0notreallyanxls")
    with pytest.raises(UnsupportedSourceError):
        read_source(spark, str(p), "xls")


def test_schema_only_read_is_metadata(spark, sf_dir):
    # S5: column listing without a data scan (parquet footer only).
    from python_sql_datawarehouse_project_spark.sources.readers import read_schema

    cols = read_schema(spark, f"{sf_dir}/nation.parquet", "parquet")
    assert cols == ["n_nationkey", "n_name", "n_regionkey"]


def test_orc_text_binary_readers_roundtrip(spark, tmp_path):
    # S-family widening: ORC round-trip, line-text scan, whole-file
    # binary ingestion (the multimodal payload path).
    from python_sql_datawarehouse_project_spark.sources import readers

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    orc_dir = str(tmp_path / "t.orc")
    df.write.orc(orc_dir)
    back = readers.read_source(spark, orc_dir, "orc")
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]

    txt = tmp_path / "corpus.txt"
    txt.write_text("line one\nline two\n")
    lines = readers.read_source(spark, str(txt), "text")
    assert lines.columns == ["value"]
    assert sorted(r.value for r in lines.collect()) == ["line one", "line two"]

    blob = tmp_path / "payload.bin"
    blob.write_bytes(b"\x00\x01\x02spark")
    bin_df = readers.read_source(spark, str(blob), "binary")
    row = bin_df.select("length", "content").first()
    assert row.length == 8 and bytes(row.content) == b"\x00\x01\x02spark"


def test_synthetic_docs_datasource_deterministic_and_partitioned(spark):
    # The Python Data Source API seam: registered format reads run
    # executor-side, content is a pure function of (seed, row_id) —
    # same rows for ANY partitioning — and the schema feeds the text
    # operators directly.
    from python_sql_datawarehouse_project_spark.sources import pyds

    pyds.register(spark)
    a = (
        spark.read.format("synthetic_docs")
        .option("n_rows", 500)
        .option("n_parts", 8)
        .load()
    )
    b = (
        spark.read.format("synthetic_docs")
        .option("n_rows", 500)
        .option("n_parts", 3)  # different partitioning, same corpus
        .load()
    )
    assert a.count() == 500
    assert a.rdd.getNumPartitions() == 8
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb
    # executor rows match the driver-side pure function
    assert ra[7] == pyds.doc_row(42, ra[7][0]) or ra[7][0] != 7
    want = [pyds.doc_row(42, i) for i in range(500)]
    assert ra == sorted(want)
    # the generated corpus drives a real text operator end to end
    from python_sql_datawarehouse_project_spark.operators.text import _tokens
    from pyspark.sql import functions as F

    toks = a.select(F.size(_tokens(F.col("text"))).alias("n")).agg(
        F.min("n"), F.max("n")
    ).first()
    assert toks[0] >= 20 and toks[1] <= 84
