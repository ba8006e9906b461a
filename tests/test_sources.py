"""Reader round-trips: CSV/TSV/LTSV/XLSX/Parquet ± compression."""

from __future__ import annotations

import bz2
import gzip
import lzma
import zipfile

import pytest

from filesql_spark.errors import DuplicateColumnError, EmptyFileError
from filesql_spark.sources.loader import load_file

SAMPLE_CSV = "id,name,age,email\n1,John Doe,30,john@example.com\n2,Jane Smith,25,jane@example.com\n3,Bob Johnson,35,bob@example.com\n"


def _write_minimal_xlsx(path, sheets):
    """Build a minimal OOXML workbook: sheets = [(name, [[cell,...],...])]."""
    content_types = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(sheets))
        )
        + "</Types>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId0" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    wb_sheets = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _rows) in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )

    def sheet_xml(rows):
        out = ['<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
        for r, row in enumerate(rows, 1):
            out.append(f'<row r="{r}">')
            for j, cell in enumerate(row):
                col = chr(ord("A") + j)
                if isinstance(cell, (int, float)):
                    out.append(f'<c r="{col}{r}"><v>{cell}</v></c>')
                else:
                    out.append(f'<c r="{col}{r}" t="inlineStr"><is><t>{cell}</t></is></c>')
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, (_name, rows) in enumerate(sheets):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(rows))


def test_csv_inference_and_types(spark, tmp_path):
    p = tmp_path / "sample.csv"
    p.write_text(SAMPLE_CSV)
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "sample"
    assert dict(df.dtypes) == {
        "id": "bigint",
        "name": "string",
        "age": "bigint",
        "email": "string",
    }
    rows = {r.id: r for r in df.collect()}
    assert rows[1].name == "John Doe" and rows[1].age == 30
    assert df.filter("age > 30").count() == 1


def test_tsv_gz(spark, tmp_path):
    p = tmp_path / "products.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write("id\tname\tprice\n1\tLaptop\t1000\n2\tMouse\t29\n")
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "products"
    assert dict(df.dtypes)["price"] == "bigint"
    assert df.count() == 2


@pytest.mark.parametrize(
    "ext,opener",
    [("bz2", bz2.open), ("xz", lzma.open)],
)
def test_csv_python_codecs(spark, tmp_path, ext, opener):
    p = tmp_path / f"users.csv.{ext}"
    with opener(p, "wt") as f:
        f.write("id,role\n1,admin\n2,user\n")
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "users"
    assert df.count() == 2
    if ext == "xz":  # bz2 is Hadoop-native; xz spills through Python
        assert res.temp_files


def test_csv_zstd(spark, tmp_path):
    import pyarrow as pa

    data = pa.Codec("zstd").compress(b"id,v\n1,2\n3,4\n", asbytes=True)
    p = tmp_path / "z.csv.zst"
    p.write_bytes(data)
    res = load_file(spark, str(p))
    (_, df), = res.tables
    assert df.count() == 2


def test_ltsv_union_of_keys_sorted(spark, tmp_path):
    p = tmp_path / "logs.ltsv"
    p.write_text(
        "time:2024-01-01T10:00:00Z\tlevel:INFO\tmessage:Application started\n"
        "time:2024-01-01T10:01:00Z\tlevel:ERROR\thost:web1\n"
    )
    res = load_file(spark, str(p))
    (name, df), = res.tables
    assert name == "logs"
    assert df.columns == ["host", "level", "message", "time"]  # sorted keys
    rows = df.orderBy("time").collect()
    assert rows[0].message == "Application started"
    assert rows[0].host is None  # missing key → NULL
    assert rows[1].host == "web1"


def test_ltsv_value_with_colon(spark, tmp_path):
    p = tmp_path / "logs.ltsv"
    p.write_text("url:http://example.com/x\tlevel:INFO\n")
    (_, df), = load_file(spark, str(p)).tables
    assert df.collect()[0].url == "http://example.com/x"  # first-colon split


def test_duplicate_columns_raises(spark, tmp_path):
    p = tmp_path / "duplicate_columns.csv"
    p.write_text("id,name,id,email\n1,a,2,b\n")
    with pytest.raises(DuplicateColumnError):
        load_file(spark, str(p))


def test_empty_file_raises(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(EmptyFileError):
        load_file(spark, str(p))


def test_header_only(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text("id,name\n")
    (_, df), = load_file(spark, str(p)).tables
    assert df.columns == ["id", "name"]
    assert df.count() == 0
    assert dict(df.dtypes) == {"id": "string", "name": "string"}  # all-TEXT


def test_xlsx_multi_sheet(spark, tmp_path):
    p = tmp_path / "sample.xlsx"
    _write_minimal_xlsx(
        p,
        [
            ("Sheet1", [["id", "name"], [1, "Alice"], [2, "Bob"]]),
            ("Sheet2", [["id", "value"], [1, 100], [2, 200]]),
        ],
    )
    res = load_file(spark, str(p))
    names = [n for n, _ in res.tables]
    assert names == ["sample_Sheet1", "sample_Sheet2"]
    df1 = dict(res.tables)["sample_Sheet1"]
    assert dict(df1.dtypes) == {"id": "bigint", "name": "string"}
    assert df1.count() == 2
    df2 = dict(res.tables)["sample_Sheet2"]
    assert df2.filter("value = 200").count() == 1


def test_xlsx_short_rows_padded(spark, tmp_path):
    p = tmp_path / "pad.xlsx"
    _write_minimal_xlsx(p, [("S", [["a", "b", "c"], [1, "x"], [2, "y"]])])
    (_, df), = load_file(spark, str(p)).tables
    assert df.columns == ["a", "b", "c"]
    assert [r.c for r in df.collect()] == [None, None]


def test_parquet_typed(spark, tmp_path):
    import pandas as pd

    p = tmp_path / "t.parquet"
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(p)
    (name, df), = load_file(spark, str(p)).tables
    assert name == "t"
    assert dict(df.dtypes)["k"] == "bigint"  # real parquet schema, no stringify


def test_xlsx_gz_roundtrip(spark, tmp_path):
    import gzip as _gzip

    raw = tmp_path / "plain.xlsx"
    _write_minimal_xlsx(raw, [("S", [["id", "v"], [1, "a"]])])
    gz = tmp_path / "book.xlsx.gz"
    gz.write_bytes(_gzip.compress(raw.read_bytes()))
    res = load_file(spark, str(gz))
    (name, df), = res.tables
    assert name == "book_S"
    assert df.count() == 1


def test_builder_reader_compressed(spark):
    import gzip as _gzip

    import filesql_spark as fs

    data = _gzip.compress(b"id,v\n1,7\n2,8\n")
    eng = fs.Builder().add_reader(data, "gzdata", "csv.gz").open(spark=spark)
    try:
        assert eng.query("SELECT SUM(v) AS s FROM gzdata").collect()[0].s == 15
    finally:
        eng.close()


def test_builder_reader_xlsx_sheets(spark, tmp_path):
    # a one-sheet workbook keeps the reader's name; each sheet of a
    # multi-sheet one is its own {name}_{sheet} table
    import filesql_spark as fs

    solo, book = tmp_path / "solo.xlsx", tmp_path / "book.xlsx"
    _write_minimal_xlsx(solo, [("S", [["id"], [1]])])
    _write_minimal_xlsx(
        book,
        [
            ("Sheet1", [["id", "name"], [1, "Alice"]]),
            ("Sheet2", [["id", "value"], [1, 100], [2, 200]]),
        ],
    )
    eng = (
        fs.Builder()
        .add_reader(solo.read_bytes(), "solo", "xlsx")
        .add_reader(book.read_bytes(), "book", "xlsx")
        .open(spark=spark)
    )
    try:
        assert eng.table_names() == ["book_Sheet1", "book_Sheet2", "solo"]
        assert eng.query("SELECT name FROM book_Sheet1").collect()[0].name == "Alice"
        assert eng.query("SELECT SUM(value) AS s FROM book_Sheet2").collect()[0].s == 300
    finally:
        eng.close()


def test_empty_string_fields_are_null_divergence(spark, tmp_path):
    """Pin the documented ''-vs-NULL divergence surface (SURVEY §1.2,
    README): the reference keeps empty CSV fields as '' (file.go:476-479),
    so its COUNT(col) counts them and WHERE col = '' matches; this engine
    adopts NULL. These assertions are the contract — if they start
    failing, the divergence decision changed and README must follow."""
    import filesql_spark as fs

    p = tmp_path / "gaps.csv"
    p.write_text("id,note\n1,hello\n2,\n3,world\n")
    with fs.open(str(p), spark=spark) as eng:
        # empty field loads as NULL…
        rows = eng.query("SELECT id, note FROM gaps ORDER BY id").collect()
        assert rows[1].note is None
        # …so COUNT(note) excludes it (SQLite reference would return 3)
        assert eng.query("SELECT COUNT(note) AS n FROM gaps").collect()[0].n == 2
        # …and = '' matches nothing (SQLite reference would match id=2)
        assert eng.query("SELECT COUNT(*) AS n FROM gaps WHERE note = ''").collect()[0].n == 0
        # the NULL-standard predicates do the job instead
        assert eng.query("SELECT id FROM gaps WHERE note IS NULL").collect()[0].id == 2


# ------------------------------------------------------------ JSONL (r8)


def test_jsonl_typed_load(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "text": "hello", "score": 0.5, "ok": true}\n'
        '{"id": 2, "text": "world", "score": 1.5, "ok": false}\n'
    )
    (name, df), = load_file(spark, str(p)).tables
    assert name == "docs"
    types = dict(df.dtypes)
    assert types["id"] == "bigint" and types["score"] == "double"
    assert types["ok"] == "boolean" and types["text"] == "string"
    assert df.count() == 2


def test_jsonl_nested_and_ndjson_ext(spark, tmp_path):
    p = tmp_path / "events.ndjson"
    p.write_text(
        '{"id": 1, "meta": {"k": "a", "n": 7}, "tags": ["x", "y"]}\n'
        '{"id": 2, "meta": {"k": "b", "n": 9}, "tags": []}\n'
    )
    (name, df), = load_file(spark, str(p)).tables
    assert name == "events"
    rows = {r.id: r for r in df.collect()}
    assert rows[1].meta.n == 7 and rows[1].tags == ["x", "y"]


def test_jsonl_gz_and_xz(spark, tmp_path):
    content = '{"id": 1}\n{"id": 2}\n{"id": 3}\n'
    g = tmp_path / "a.jsonl.gz"
    with gzip.open(g, "wt") as f:
        f.write(content)
    res = load_file(spark, str(g))
    assert res.tables[0][1].count() == 3
    x = tmp_path / "b.jsonl.xz"
    with lzma.open(x, "wt") as f:
        f.write(content)
    res = load_file(spark, str(x))
    assert res.tables[0][1].count() == 3
    assert res.temp_files  # xz spills through Python


def test_jsonl_empty_raises(spark, tmp_path):
    p = tmp_path / "empty.jsonl"
    p.write_text("")
    with pytest.raises(EmptyFileError):
        load_file(spark, str(p))


def test_jsonl_malformed_raises(spark, tmp_path):
    from filesql_spark.errors import FilesqlError

    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1}\n{not json at all\n')
    with pytest.raises(FilesqlError):
        (_, df), = load_file(spark, str(p)).tables
        df.collect()  # FAILFAST errors surface at scan time


def test_jsonl_engine_end_to_end(spark, tmp_path):
    import filesql_spark

    p = tmp_path / "users.jsonl"
    p.write_text(
        '{"id": 1, "name": "ann", "score": 9.5}\n'
        '{"id": 2, "name": "bo"}\n'
    )
    eng = filesql_spark.open(str(tmp_path))
    rows = eng.query(
        "SELECT id, name, COALESCE(score, 0.0) AS s FROM users ORDER BY id"
    ).collect()
    assert [(r.id, r.name, r.s) for r in rows] == [(1, "ann", 9.5), (2, "bo", 0.0)]


# ------------------------------------------------------------ ORC (r8)


def test_orc_typed_load(spark, tmp_path):
    src = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k long, v string, x double")
    p = tmp_path / "t.orc"
    src.coalesce(1).write.orc(str(tmp_path / "_w"))
    import glob as _glob
    import shutil as _shutil

    (part,) = [f for f in _glob.glob(str(tmp_path / "_w" / "part-*")) if not f.endswith(".crc")]
    _shutil.move(part, p)
    (name, df), = load_file(spark, str(p)).tables
    assert name == "t"
    assert dict(df.dtypes) == {"k": "bigint", "v": "string", "x": "double"}
    assert df.count() == 2


def test_orc_gz_load(spark, tmp_path):
    src = spark.createDataFrame([(7, "z")], "k long, v string")
    src.coalesce(1).write.orc(str(tmp_path / "_w"))
    import glob as _glob

    (part,) = [f for f in _glob.glob(str(tmp_path / "_w" / "part-*")) if not f.endswith(".crc")]
    gz = tmp_path / "g.orc.gz"
    with open(part, "rb") as f:
        gz.write_bytes(gzip.compress(f.read()))
    res = load_file(spark, str(gz))
    (name, df), = res.tables
    assert name == "g" and df.count() == 1
    assert res.temp_files  # decompressed through the spill path
