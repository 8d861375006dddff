"""Golden format tests, mirroring the reference's tests/reader.rs:31-100 —
every format of the same logical record reads back equal to its JSON twin
— and writer round-trips (tests/writer.rs)."""

from __future__ import annotations

import os

import pytest

from chewdata_spark.sources.documents import read_document, write_document

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FORMATS = ["json", "jsonl", "csv", "xml", "yaml", "toml"]
EXT = {"json": "json", "jsonl": "jsonl", "csv": "csv", "xml": "xml", "yaml": "yml", "toml": "toml"}


def canon_rows(df):
    def canon(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return repr(v)
        return str(v)

    cols = sorted(df.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("fixture", ["one_line", "multi_lines"])
@pytest.mark.parametrize("fmt", [f for f in FORMATS if f != "json"])
def test_format_reads_equal_json_twin(spark, fmt, fixture):
    golden = read_document(spark, f"{DATA}/{fixture}.json", "json")
    if fmt == "xml":
        # XML spec §3.3.3 normalizes attribute-value newlines to spaces;
        # the reference's quick-xml keeps them (nonconforming).  Our
        # conforming parser therefore sees "Long val to test".
        from pyspark.sql import functions as F

        golden = golden.withColumn("long-string", F.regexp_replace("long-string", r"\n", " "))
    df = read_document(spark, f"{DATA}/{fixture}.{EXT[fmt]}", fmt)
    assert sorted(df.columns) == sorted(golden.columns)
    assert canon_rows(df) == canon_rows(golden)


def test_headerless_csv_positional(spark):
    df = read_document(
        spark,
        f"{DATA}/multi_lines-without_header.csv",
        "csv",
        options={"header": "false"},
    )
    assert df.columns == [f"_c{i}" for i in range(14)]
    assert df.count() == 3


@pytest.mark.parametrize("fmt", ["json", "jsonl", "csv", "parquet", "orc", "xml", "yaml", "toml"])
def test_write_round_trip(spark, tmp_path, fmt):
    golden = read_document(spark, f"{DATA}/multi_lines.json", "json")
    out = str(tmp_path / f"out_{fmt}")
    write_document(golden, out, fmt)
    back = read_document(spark, out, fmt, resolve_types=(fmt in ("csv", "xml")))
    assert sorted(back.columns) == sorted(golden.columns)
    assert canon_rows(back) == canon_rows(golden)


def test_entry_path_drill_in(spark, tmp_path):
    p = tmp_path / "nested.json"
    p.write_text('{"data": {"results": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]}}')
    df = read_document(spark, str(p), "json", entry_path="/data/results")
    assert sorted(df.columns) == ["a", "b"]
    assert df.count() == 2
    df2 = read_document(spark, str(p), "json", entry_path="/data/results/0")
    assert [tuple(r) for r in df2.select("a", "b").collect()] == [(1, "x")]


def test_csv_write_flattens_nested_positional(spark, tmp_path):
    """Nested records → dotted + positional keys on CSV write
    (reference csv.rs:384-430, value.rs:7-82): struct fields become
    a.b, arrays expand to a.0, a.1, ...; the header is the union of
    keys so shorter records null-fill (deepest-record header)."""
    df = spark.createDataFrame(
        [
            (1, {"city": "Paris", "zip": "75001"}, ["a", "b", "c"], [{"v": 10}]),
            (2, {"city": "Lyon", "zip": None}, ["x"], [{"v": 20}, {"v": 21}]),
        ],
        "id int, addr struct<city:string,zip:string>, tags array<string>, "
        "items array<struct<v:int>>",
    )
    out = tmp_path / "flat_csv"
    write_document(df, str(out), "csv")
    back = read_document(spark, str(out), "csv")
    assert sorted(back.columns) == [
        "addr.city", "addr.zip", "id", "items.0.v", "items.1.v",
        "tags.0", "tags.1", "tags.2",
    ]
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["addr.city"] == "Paris" and rows[1]["tags.2"] == "c"
    assert rows[2]["items.1.v"] == 21 and rows[2]["tags.1"] is None


def test_flatten_positional_helper(spark):
    from chewdata_spark.functions.objects import flatten

    df = spark.createDataFrame(
        [([["p", "q"], ["r"]],)], "m array<array<string>>"
    )
    flat = flatten(df)
    assert sorted(flat.columns) == ["m.0.0", "m.0.1", "m.1.0"]
    row = flat.collect()[0]
    assert (row["m.0.0"], row["m.0.1"], row["m.1.0"]) == ("p", "q", "r")


def test_byte_write_roundtrip(spark, tmp_path):
    """Raw byte passthrough: content bytes land verbatim on disk."""
    payload = [(bytearray(b"\x00\x01binary-A"),), (bytearray(b"\xffbinary-B"),)]
    df = spark.createDataFrame(payload, "content binary").coalesce(1)
    out = tmp_path / "bytes_out"
    write_document(df, str(out), "byte")
    files = sorted(out.glob("part-*.bin"))
    assert len(files) == 1
    data = files[0].read_bytes()
    assert b"binary-A" in data and b"binary-B" in data and len(data) == 19


def test_write_single_file(spark, tmp_path):
    """Opt-in single-file promotion (reference single-file append layout)."""
    from chewdata_spark.sources.documents import write_single_file

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    target = tmp_path / "single.csv"
    write_single_file(df, str(target), "csv")
    assert target.is_file()
    text = target.read_text().strip().splitlines()
    assert text[0] == "id,v" and len(text) == 3
    back = read_document(spark, str(target), "csv")
    assert back.count() == 2


def test_append_single_file_json_splice(spark, tmp_path):
    """Reference can_append splice (document/mod.rs:181-205,
    json.rs:282-327): appends land INSIDE the [ ... ] envelope and the
    target stays one valid JSON array."""
    import json as _json

    from chewdata_spark.sources.documents import append_single_file

    target = tmp_path / "appended.json"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    append_single_file(df1, str(target), "json")
    append_single_file(df2, str(target), "json")
    text = target.read_text()
    assert text.startswith("[") and text.rstrip().endswith("]")
    recs = _json.loads(text)
    assert sorted(r["id"] for r in recs) == [1, 2, 3]
    # the multiLine reader round-trips the array document
    back = read_document(spark, str(target), "json")
    assert back.count() == 3


def test_append_single_file_csv_one_header(spark, tmp_path):
    """csv appends keep ONE header (the has_data gate, mod.rs:178-180)."""
    from chewdata_spark.sources.documents import append_single_file

    target = tmp_path / "appended.csv"
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    append_single_file(df, str(target), "csv")
    append_single_file(df.selectExpr("id + 1 as id", "'b' as v"), str(target), "csv")
    lines = target.read_text().strip().splitlines()
    assert lines.count("id,v") == 1 and len(lines) == 3


def test_append_single_file_xml_root_splice(spark, tmp_path):
    """xml appends splice fresh <item> rows before the </root> footer
    (document/xml.rs:88-116): one well-formed document across appends."""
    from chewdata_spark.sources.documents import append_single_file, read_document

    target = tmp_path / "appended.xml"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    append_single_file(df1, str(target), "xml")
    append_single_file(df2, str(target), "xml")
    text = target.read_text()
    assert text.count("<root>") == 1 and text.count("</root>") == 1
    assert text.count("<item>") == 3
    back = read_document(spark, str(target), "xml")
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]


def test_pipeline_single_file_writer_appends(spark, tmp_path):
    """Writer with single_file: two pipeline runs splice into one JSON
    array file; an eraser run truncates it first."""
    import json as _json

    from chewdata_spark.pipeline import Pipeline

    target = tmp_path / "out.json"
    src = tmp_path / "in.json"
    src.write_text('[{"id": 1}]')
    cfg = [
        {"type": "reader", "connector": {"type": "local", "path": str(src)}},
        {
            "type": "writer",
            "connector": {"type": "local", "path": str(target), "single_file": True},
        },
    ]
    Pipeline(cfg, spark).run()
    Pipeline(cfg, spark).run()
    assert [r["id"] for r in _json.loads(target.read_text())] == [1, 1]
    erase_cfg = [
        {"type": "reader", "connector": {"type": "local", "path": str(src)}},
        {"type": "eraser", "connector": {"type": "local", "path": str(target)}},
        {
            "type": "writer",
            "connector": {"type": "local", "path": str(target), "single_file": True},
        },
    ]
    Pipeline(erase_cfg, spark).run()
    assert [r["id"] for r in _json.loads(target.read_text())] == [1]


def test_metadata_block_translates_to_spark_options(spark, tmp_path):
    # the reference's document.metadata block (has_headers/delimiter/
    # quote — src/lib.rs:100-114) must drive the CSV codec
    import json

    from chewdata_spark.pipeline import Pipeline

    src = tmp_path / "in.csv"
    src.write_text("id;name\n1;alpha\n2;be;ta\n".replace(";ta", "ta"))
    cfg = [
        {"type": "reader",
         "connector": {"type": "local", "path": str(src)},
         "document": {"type": "csv",
                      "metadata": {"has_headers": True, "delimiter": ";"}}},
    ]
    rows = {r.id: r.name for r in Pipeline(cfg, spark).dataframe().collect()}
    assert rows == {1: "alpha", 2: "beta"}

    out = tmp_path / "out"
    cfg2 = [
        {"type": "reader",
         "connector": {"type": "in_memory",
                       "data": json.dumps([{"a": 1, "b": "x"}])}},
        {"type": "writer",
         "connector": {"type": "local", "path": str(out)},
         "document": {"type": "csv", "metadata": {"delimiter": "|"}}},
    ]
    Pipeline(cfg2, spark).run()
    body = "".join(
        p.read_text() for p in out.glob("*.csv")
    )
    assert "1|x" in body


def test_metadata_options_helper_mapping():
    from chewdata_spark.sources.documents import metadata_options

    assert metadata_options({"metadata": {"has_headers": False}}) == {"header": "false"}
    assert metadata_options({"meta": {"delimiter": "\t", "charset": "latin-1"}}) == {
        "sep": "\t", "encoding": "latin-1",
    }
    assert metadata_options({}) == {}


def test_metadata_options_csv_doc_level_keys():
    from chewdata_spark.sources.documents import metadata_options

    assert metadata_options({"quote_style": "ALWAYS"}) == {"quoteAll": "true"}
    assert metadata_options({"quote_style": "NEVER"}) == {"quote": ""}
    assert metadata_options({"trim": "ALL"}) == {
        "ignoreLeadingWhiteSpace": "true",
        "ignoreTrailingWhiteSpace": "true",
    }
    assert metadata_options({"is_flexible": True}) == {"mode": "PERMISSIVE"}
    assert metadata_options({"is_flexible": False}) == {"mode": "FAILFAST"}


def test_is_pretty_single_file_json_and_jsonl(spark, tmp_path):
    import json

    from chewdata_spark.pipeline import Pipeline

    out = tmp_path / "pretty.json"
    cfg = [
        {"type": "reader",
         "connector": {"type": "in_memory",
                       "data": json.dumps([{"a": 1}, {"a": 2}])}},
        {"type": "writer",
         "connector": {"type": "local", "path": str(out), "single_file": True},
         "document": {"type": "json", "is_pretty": True}},
    ]
    Pipeline(cfg, spark).run()
    body = out.read_text()
    assert body.count("\n") >= 3  # human-readable, not one line
    assert json.loads(body) == [{"a": 1}, {"a": 2}]
    # pretty file stays readable by the json reader
    cfg_read = [
        {"type": "reader",
         "connector": {"type": "local", "path": str(out)},
         "document": {"type": "json"}},
    ]
    assert Pipeline(cfg_read, spark).dataframe().count() == 2

    out2 = tmp_path / "pretty.jsonl"
    cfg2 = [
        {"type": "reader",
         "connector": {"type": "in_memory", "data": json.dumps([{"b": 1}])}},
        {"type": "writer",
         "connector": {"type": "local", "path": str(out2), "single_file": True},
         "document": {"type": "jsonl", "is_pretty": True}},
    ]
    Pipeline(cfg2, spark).run()
    assert out2.read_text().count("\n") >= 2


def test_metadata_options_xml_doc_keys():
    from chewdata_spark.sources.documents import metadata_options

    assert metadata_options(
        {"attribute_key": "~", "text_key": "#", "root": "data"}
    ) == {"attributePrefix": "~", "valueTag": "#", "rootTag": "data"}


def test_metadata_compression_roundtrip(spark, tmp_path):
    import json

    from chewdata_spark.pipeline import Pipeline

    out = tmp_path / "gz"
    cfg = [
        {"type": "reader",
         "connector": {"type": "in_memory",
                       "data": json.dumps([{"a": i} for i in range(10)])}},
        {"type": "writer",
         "connector": {"type": "local", "path": str(out)},
         "document": {"type": "csv", "metadata": {"compression": "gzip"}}},
    ]
    Pipeline(cfg, spark).run()
    assert list(out.glob("*.csv.gz")), list(out.iterdir())
    cfg_read = [
        {"type": "reader",
         "connector": {"type": "local", "path": str(out)},
         "document": {"type": "csv"}},
    ]
    assert Pipeline(cfg_read, spark).dataframe().count() == 10
