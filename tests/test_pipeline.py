"""End-to-end pipeline configs (reference README examples + tests/transformer.rs)."""

from __future__ import annotations

import json
import os

import pytest

from chewdata_spark.pipeline import _CURATE_METHODS, Pipeline
from chewdata_spark.sources.documents import read_document

from tests.test_documents import canon_rows

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_csv_to_json_conversion(spark, tmp_path):
    """README's canonical `csv → json` example."""
    out = str(tmp_path / "out_json")
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/multi_lines.csv"}, "document": {"type": "csv"}},
            {"type": "writer", "connector": {"type": "local", "path": out}, "document": {"type": "json"}},
        ],
        spark,
    )
    df, writes = pipe.run()
    assert len(writes) == 1
    back = read_document(spark, out, "json")
    golden = read_document(spark, f"{DATA}/multi_lines.json", "json")
    assert canon_rows(back) == canon_rows(golden)


def test_transform_with_referential_lookup(spark):
    """The `transform-mapping` idiom: replace a code via a referential
    (reference src/step/referential.rs + tests/transformer.rs)."""
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/multi_lines.json"}, "document": {"type": "json"}},
            {
                "type": "transformer",
                "referentials": {
                    "mapping_ref": {"connector": {"type": "local", "path": f"{DATA}/mapping.json"}, "document": {"type": "json"}}
                },
                "actions": [
                    {
                        "field": "mapped",
                        "pattern": "{{ mapping_ref | filter(attribute='mapping_code', value=input.code) | first | map(attribute='mapping_value') }}",
                    }
                ],
            },
        ],
        spark,
    )
    df = pipe.dataframe()
    vals = {(r.code, r.mapped) for r in df.select("code", "mapped").collect()}
    assert vals == {
        ("value_to_map", "value mapped"),
        ("value_to_map_2", "value mapped 2"),
        ("value_to_map_3", "value mapped 3"),
    }


def test_transformer_actions_and_remove(spark):
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"}, "document": {"type": "json"}},
            {
                "type": "transformer",
                "actions": [
                    {"field": "number_x10", "pattern": "{{ input.number * 10 }}"},
                    {"field": "greeting", "pattern": "hello {{ input.string | upper }}"},
                    {"field": "sorted_list", "pattern": "{{ input.list_to_sort | split(pat=',') | reverse | join(sep='-') }}"},
                    {"field": "remove_field", "type": "remove"},
                ],
            },
        ],
        spark,
    )
    row = pipe.dataframe().collect()[0]
    assert row.number_x10 == 100
    assert row.greeting == "hello VALUE TO TEST"
    assert row.sorted_list == "C-B-A"
    assert "remove_field" not in row.asDict()


def test_validator_splits_ok_err(spark, tmp_path):
    ok_out = str(tmp_path / "ok")
    err_out = str(tmp_path / "err")
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/multi_lines.json"}, "document": {"type": "json"}},
            {
                "type": "validator",
                "rules": {"small_number": {"pattern": "{{ input.number <= 20 }}", "message": "number too big"}},
            },
            {"type": "writer", "connector": {"type": "local", "path": ok_out}, "document": {"type": "jsonl"}, "data_type": "ok"},
            {"type": "writer", "connector": {"type": "local", "path": err_out}, "document": {"type": "jsonl"}, "data_type": "err"},
        ],
        spark,
    )
    df, writes = pipe.run()
    ok_back = read_document(spark, ok_out, "jsonl")
    err_back = read_document(spark, err_out, "jsonl")
    assert ok_back.count() == 2  # numbers 10, 20
    assert err_back.count() == 1  # number 30
    assert err_back.collect()[0]["_error"] == "number too big"


def test_generator_pipeline(spark):
    pipe = Pipeline(
        [
            {"type": "generator", "record_limit": 25},
            {"type": "transformer", "actions": [{"field": "double_id", "pattern": "{{ input.id * 2 }}"}]},
        ],
        spark,
    )
    df = pipe.dataframe()
    assert df.count() == 25
    assert df.agg({"double_id": "max"}).collect()[0][0] == 48


def test_in_memory_connector(spark):
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps([{"a": 1}, {"a": 2}])}},
            {"type": "transformer", "actions": [{"field": "b", "pattern": "{{ input.a + 1 }}"}]},
        ],
        spark,
    )
    assert [r.b for r in pipe.dataframe().orderBy("a").collect()] == [2, 3]


def test_mustache_path_partitioned_write(spark, tmp_path):
    out = str(tmp_path / "parts") + "/"
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/multi_lines.json"}, "document": {"type": "json"}},
            {"type": "writer", "connector": {"type": "local", "path": out + "file_{{ number }}.json"}, "document": {"type": "json"}},
        ],
        spark,
    )
    pipe.run()
    import os

    parts = sorted(d for d in os.listdir(out.rstrip("/")) if d.startswith("number="))
    assert parts == ["number=10", "number=20", "number=30"]


def test_conditional_template(spark):
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/multi_lines.json"}, "document": {"type": "json"}},
            {
                "type": "transformer",
                "actions": [
                    {"field": "size_label",
                     "pattern": "{% if input.number == 10 %}small{% elif input.number == 20 %}mid{% else %}big-{{ input.number }}{% endif %}"},
                    {"field": "code_ok", "pattern": "{% if input.code is matching('^value_to_map$') %}yes{% else %}no{% endif %}"},
                ],
            },
        ],
        spark,
    )
    rows = {r.number: (r.size_label, r.code_ok) for r in pipe.dataframe().collect()}
    assert rows[10] == ("small", "yes")
    assert rows[20] == ("mid", "no")
    assert rows[30] == ("big-30", "no")


def test_steps_history_reference(spark):
    """Context/steps semantics: a later step reads an earlier named step's
    output even after the field was overwritten (src/lib.rs:304-340)."""
    pipe = Pipeline(
        [
            {"type": "reader", "name": "raw", "connector": {"type": "local", "path": f"{DATA}/multi_lines.json"}, "document": {"type": "json"}},
            {"type": "transformer", "name": "scaled",
             "actions": [{"field": "number", "pattern": "{{ input.number * 100 }}", "type": "replace"}]},
            {"type": "transformer",
             "actions": [{"field": "orig_plus_new", "pattern": "{{ steps.raw.number + input.number }}"}]},
        ],
        spark,
    )
    rows = {r.number: r.orig_plus_new for r in pipe.dataframe().collect()}
    assert rows == {1000: 1010, 2000: 2020, 3000: 3030}


def test_whole_record_json_encode(spark):
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "in_memory", "data": '[{"a": 1, "b": "x"}]'}},
            {"type": "transformer", "actions": [{"field": "as_json", "pattern": "{{ input | json_encode() }}"}]},
        ],
        spark,
    )
    row = pipe.dataframe().collect()[0]
    assert json.loads(row.as_json) == {"a": 1, "b": "x"}


def test_root_action_array_fanout(spark):
    """Array result at the root field fans out to N records
    (reference src/step/transformer.rs:209-220)."""
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "in_memory", "data": '[{"list_to_sort": "A,B,C"}, {"list_to_sort": "X,Y"}]'}},
            {"type": "transformer", "actions": [{"field": "/", "pattern": "{{ input.list_to_sort | split(pat=',') }}"}]},
        ],
        spark,
    )
    vals = sorted(r.value for r in pipe.dataframe().collect())
    assert vals == ["A", "B", "C", "X", "Y"]


def test_filesizeformat_and_round_method(spark):
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"}, "document": {"type": "json"}},
            {"type": "transformer", "actions": [
                {"field": "fs", "pattern": "{{ input.filesize | filesizeformat }}"},
                {"field": "rfloor", "pattern": "{{ input.round | round(method='floor', precision=2) }}"},
            ]},
        ],
        spark,
    )
    row = pipe.dataframe().collect()[0]
    assert row.fs == "976.56 kB"      # reference tests/transformer.rs:62
    assert row.rfloor == 10.15        # reference tests/transformer.rs:67


def test_struct_deep_merge(spark):
    from chewdata_spark.operators.transformer import Action, apply_actions
    from pyspark.sql import functions as F

    df = spark.read.json(spark.sparkContext.parallelize(
        ['{"info": {"a": 1, "nested": {"x": 1, "y": 2}}, "k": 5}']))
    merged = apply_actions(df, [
        Action("info", "{{ input.k }}", "merge"),  # scalar new value -> replace
    ])
    assert merged.collect()[0].info == 5
    df2 = df.withColumn("patch", F.struct(F.lit(9).alias("b"), F.struct(F.lit(7).alias("y")).alias("nested")))
    merged2 = apply_actions(df2, [Action("info", "{{ input.patch }}", "merge")])
    info = merged2.collect()[0].info.asDict(recursive=True)
    assert info == {"a": 1, "nested": {"x": 1, "y": 7}, "b": 9}


def test_try_cast_filters_null_instead_of_throw(spark):
    """Malformed values null out (ANSI would throw) — the vectorized
    stand-in for the reference's render-error -> Err record."""
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "in_memory", "data": '[{"s": "12"}, {"s": "oops"}]'}},
            {"type": "transformer", "actions": [
                {"field": "n", "pattern": "{{ input.s | int }}"},
                {"field": "d", "pattern": "{{ input.s | date(format='%Y') }}"},
            ]},
        ],
        spark,
    )
    rows = {r.s: (r.n, r.d) for r in pipe.dataframe().collect()}
    assert rows["12"][0] == 12
    assert rows["oops"] == (None, None)


def test_string_filters(spark):
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "in_memory", "data": '[{"t": "Hello <b>Big</b> World!"}]'}},
            {"type": "transformer", "actions": [
                {"field": "slug", "pattern": "{{ input.t | striptags | slugify }}"},
                {"field": "wc", "pattern": "{{ input.t | striptags | wordcount }}"},
            ]},
        ],
        spark,
    )
    row = pipe.dataframe().collect()[0]
    assert row.slug == "hello-big-world"
    assert row.wc == 3


def test_render_failure_routes_to_err_channel(spark, tmp_path):
    """Reference: failed template render -> DataResult::Err that still
    flows (src/step/transformer.rs:238-249). Compiled analogue: fallible
    filter produced NULL from non-null input -> _error set -> err stream."""
    ok_out = str(tmp_path / "ok")
    err_out = str(tmp_path / "err")
    pipe = Pipeline(
        [
            {"type": "reader", "connector": {"type": "in_memory",
             "data": '[{"s": "7"}, {"s": "garbage"}, {"s": null}]'}},
            {"type": "transformer", "actions": [{"field": "n", "pattern": "{{ input.s | int }}"}]},
            {"type": "writer", "connector": {"path": ok_out}, "document": {"type": "jsonl"}, "data_type": "ok"},
            {"type": "writer", "connector": {"path": err_out}, "document": {"type": "jsonl"}, "data_type": "err"},
        ],
        spark,
    )
    pipe.run()
    ok_back = read_document(spark, ok_out, "jsonl")
    err_back = read_document(spark, err_out, "jsonl")
    # "7" parses; null input is a legitimate null (NOT an error); "garbage" errs
    assert ok_back.count() == 2
    err_rows = err_back.collect()
    assert len(err_rows) == 1 and err_rows[0]["s"] == "garbage"
    assert "failed to render field 'n'" in err_rows[0]["_error"]


def test_env_substitution_in_config(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("CHEWDATA_IN_PATH", f"{DATA}/one_line.json")
    pipe = Pipeline.from_json(
        '[{"type": "reader", "connector": {"type": "local", "path": "{{ CHEWDATA_IN_PATH }}"}, "document": {"type": "json"}}]',
        spark,
    )
    assert pipe.dataframe().count() == 1
    import pytest as _pytest

    with _pytest.raises(KeyError):
        Pipeline.from_json('[{"x": "{{ CHEWDATA_NOT_SET_ANYWHERE }}"}]', spark)


def test_reader_checksum_verify(spark, tmp_path):
    import hashlib

    p = tmp_path / "data.json"
    p.write_text('{"a": 1}')
    good = hashlib.sha256(p.read_bytes()).hexdigest()
    ok = Pipeline(
        [{"type": "reader", "connector": {"type": "local", "path": str(p), "checksum": {"algo": "sha256", "value": good}}, "document": {"type": "json"}}],
        spark,
    )
    assert ok.dataframe().count() == 1
    import pytest as _pytest

    bad = Pipeline(
        [{"type": "reader", "connector": {"type": "local", "path": str(p), "checksum": {"algo": "sha256", "value": "deadbeef"}}, "document": {"type": "json"}}],
        spark,
    )
    with _pytest.raises(ValueError, match="checksum mismatch"):
        bad.dataframe()


def test_eraser_exclude_paths(spark, tmp_path):
    kept = str(tmp_path / "keep_out")
    wiped = str(tmp_path / "wipe_out")
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": '[{"a": 1}]'}},
        {"type": "eraser", "connector": {"path": wiped}},
        {"type": "eraser", "connector": {"path": kept}, "exclude_paths": [kept]},
        {"type": "writer", "connector": {"path": wiped}, "document": {"type": "jsonl"}},
        {"type": "writer", "connector": {"path": kept}, "document": {"type": "jsonl"}},
    ]
    Pipeline(cfg, spark).run()
    Pipeline(cfg, spark).run()  # second run: wiped overwritten, kept appended
    from chewdata_spark.sources.documents import read_document

    assert read_document(spark, wiped, "jsonl").count() == 1
    assert read_document(spark, kept, "jsonl").count() == 2


def test_reference_complex_transformation_merge(spark):
    """Port of tests/transformer.rs it_should_apply_complex_transformation:
    two rendered JSON-object fields, merged (optionally at a sub-path)."""
    import json

    cfg = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"},
         "document": {"type": "json"}},
        {"type": "transformer", "actions": [
            {"field": "object1", "pattern": '{"field1":"value1"}'},
            {"field": "object2", "pattern": '{"field2":"value2"}'},
            {"field": "object_merged",
             "pattern": "{{ output.object1 | merge(with=output.object2) | json_encode() }}"},
            {"field": "object_merged_in",
             "pattern": "{{ output.object1 | merge(with=output.object2, attribute='/other') | json_encode() }}"},
        ]},
    ]
    row = Pipeline(cfg, spark).dataframe().collect()[0]
    assert json.loads(row.object_merged) == {"field1": "value1", "field2": "value2"}
    assert json.loads(row.object_merged_in) == {
        "field1": "value1", "other": {"field2": "value2"}
    }


def test_reference_mapping_with_get_key(spark):
    """Port of tests/transformer.rs it_should_apply_transformation_with_mapping:
    the lookup idiom spelled with double quotes and get(key=...), and the
    referentials key spelled `refs`."""
    cfg = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"},
         "document": {"type": "json"}},
        {"type": "transformer",
         "actions": [
             {"field": "mapping",
              "pattern": '{{ alias_mapping | filter(attribute="mapping_code", value=input.code) | first | get(key="mapping_value") }}'},
         ],
         "refs": {"alias_mapping": {"connector": {"type": "local",
                                                  "path": f"{DATA}/mapping.json"},
                                    "document": {"type": "json"}}}},
    ]
    row = Pipeline(cfg, spark).dataframe().collect()[0]
    assert row.mapping == "value mapped"


def test_reference_chain_writers(spark, tmp_path):
    """Port of tests/writer.rs it_should_chain_writers: two writer steps
    in one pipeline both persist, and data flows through unchanged."""
    out_a, out_b = tmp_path / "chain_a", tmp_path / "chain_b"
    cfg = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"},
         "document": {"type": "json"}},
        {"type": "writer", "connector": {"type": "local", "path": str(out_a)},
         "document": {"type": "jsonl"}},
        {"type": "transformer", "actions": [{"field": "extra", "pattern": "tagged"}]},
        {"type": "writer", "connector": {"type": "local", "path": str(out_b)},
         "document": {"type": "jsonl"}},
    ]
    _, writes = Pipeline(cfg, spark).run()
    assert len(writes) == 2
    a = spark.read.json(str(out_a))
    b = spark.read.json(str(out_b))
    assert a.count() == 1 and "extra" not in a.columns
    assert b.count() == 1 and b.collect()[0].extra == "tagged"


def test_reference_truncate_vs_append(spark, tmp_path):
    """Port of writer.rs it_should_truncate_the_file /
    it_should_not_truncate_the_file: an eraser before the writer
    truncates (second run replaces), no eraser appends."""
    target = str(tmp_path / "trunc")
    with_eraser = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"},
         "document": {"type": "json"}},
        {"type": "eraser", "connector": {"path": target}},
        {"type": "writer", "connector": {"type": "local", "path": target},
         "document": {"type": "jsonl"}},
    ]
    Pipeline(with_eraser, spark).run()
    Pipeline(with_eraser, spark).run()
    assert spark.read.json(target).count() == 1  # truncated each run

    target2 = str(tmp_path / "append")
    no_eraser = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"},
         "document": {"type": "json"}},
        {"type": "writer", "connector": {"type": "local", "path": target2},
         "document": {"type": "jsonl"}},
    ]
    Pipeline(no_eraser, spark).run()
    Pipeline(no_eraser, spark).run()
    assert spark.read.json(target2).count() == 2  # appended


def test_reference_clear_dynamic_files(spark, tmp_path):
    """Port of clear.rs it_should_clear_dynamique_files: an eraser on a
    mustache path truncates the partitioned output of the matching
    writer (per-partition replace on re-run)."""
    raw = str(tmp_path / "dyn") + "/file_{{ group }}.json"
    cfg = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/one_line.json"},
         "document": {"type": "json"}},
        {"type": "eraser", "connector": {"path": raw}},
        {"type": "writer", "connector": {"type": "local", "path": raw},
         "document": {"type": "jsonl"}},
    ]
    Pipeline(cfg, spark).run()
    Pipeline(cfg, spark).run()
    out = spark.read.json(str(tmp_path / "dyn"))
    assert out.count() == 1  # re-run replaced, not doubled


def test_pipeline_parameterized_local_path(spark, tmp_path):
    """A local reader with a templated path (reference variable connector,
    src/connector/local.rs:166-179: `/dir/filename_{{ field }}.ext` +
    set_parameters): each upstream record renders the path and forwards
    the fetched records."""
    (tmp_path / "file_a.json").write_text('[{"v": 1}, {"v": 2}]')
    (tmp_path / "file_b.json").write_text('[{"v": 3}]')
    cfg = [
        {"type": "reader",
         "connector": {"type": "in_memory",
                       "data": '[{"tag": "a"}, {"tag": "b"}, {"tag": "a"}]'}},
        {"type": "reader",
         "connector": {"type": "local", "path": f"{tmp_path}/file_{{{{ input.tag }}}}.json"},
         "document": {"type": "json"}},
    ]
    df = Pipeline(cfg, spark).dataframe()
    # tag 'a' received twice → its records emitted per context
    assert sorted(r.v for r in df.collect()) == [1, 1, 2, 2, 3]
    assert "tag" not in df.columns  # fetched records replace the input


def test_pipeline_parameterized_reader_keeps_steps_history(spark, tmp_path):
    """The upstream record survives in the steps context
    (reader.rs:228-240: insert_step_result keeps prior steps), so a later
    transformer can reference `steps.<name>.<field>`."""
    (tmp_path / "file_x.json").write_text('[{"v": 10}]')
    (tmp_path / "file_y.json").write_text('[{"v": 20}]')
    cfg = [
        {"type": "reader", "name": "seed",
         "connector": {"type": "in_memory",
                       "data": '[{"tag": "x"}, {"tag": "y"}]'}},
        {"type": "reader", "name": "fetch",
         "connector": {"type": "local", "path": f"{tmp_path}/file_{{{{ input.tag }}}}.json"},
         "document": {"type": "json"}},
        {"type": "transformer",
         "actions": [{"field": "origin", "pattern": "{{ steps.seed.tag }}"}]},
    ]
    df = Pipeline(cfg, spark).dataframe()
    got = sorted((r.origin, r.v) for r in df.select("origin", "v").collect())
    assert got == [("x", 10), ("y", 20)]


def test_pipeline_variable_referential(spark, tmp_path):
    """Variable referential (src/step/referential.rs:86-125): the
    referential connector path references the record, so each record's
    lookup runs against *its* re-fetched referential — a correlated join
    on (lookup key, parameter columns)."""
    (tmp_path / "ref_g1.json").write_text(
        '[{"mapping_code": "c1", "mapping_value": "g1-v1"},'
        ' {"mapping_code": "c2", "mapping_value": "g1-v2"}]')
    (tmp_path / "ref_g2.json").write_text(
        '[{"mapping_code": "c1", "mapping_value": "g2-v1"}]')
    cfg = [
        {"type": "reader",
         "connector": {"type": "in_memory",
                       "data": '[{"group": "g1", "code": "c1"}, {"group": "g2", "code": "c1"},'
                               ' {"group": "g1", "code": "c2"}, {"group": "g2", "code": "c2"}]'}},
        {"type": "transformer",
         "referentials": {"m": {"connector": {"type": "local",
                                              "path": f"{tmp_path}/ref_{{{{ input.group }}}}.json"},
                                "document": {"type": "json"}}},
         "actions": [{"field": "mapped",
                      "pattern": "{{ m | filter(attribute='mapping_code', value=input.code) | first | map(attribute='mapping_value') }}"}]},
    ]
    df = Pipeline(cfg, spark).dataframe()
    got = {(r.group, r.code): r.mapped for r in df.collect()}
    assert got[("g1", "c1")] == "g1-v1"
    assert got[("g2", "c1")] == "g2-v1"
    assert got[("g1", "c2")] == "g1-v2"
    # c2 exists in g1's referential but NOT g2's — a non-correlated join
    # would wrongly resolve it
    assert got[("g2", "c2")] is None


def test_validator_referential_exists_rule(spark):
    """The validator's 'exists in referential' idiom (validator.rs:66):
    `{%- if ref | filter(attribute=k, value=input.x) | length > 0 -%}`
    compiles to a broadcast key join, not a per-record scan."""
    cfg = [
        {"type": "reader", "connector": {"type": "local", "path": f"{DATA}/multi_lines.json"},
         "document": {"type": "json"}},
        {"type": "validator",
         "referentials": {"mapping_ref": {"connector": {"type": "local",
                                                        "path": f"{DATA}/mapping.json"},
                                          "document": {"type": "json"}}},
         "rules": {"code_rule": {
             "pattern": "{%- if mapping_ref | filter(attribute='mapping_code', value=input.code) | length > 0 -%} true {%- else -%} false {%- endif -%}",
             "message": "code not in referential"}}},
    ]
    df = Pipeline(cfg, spark).dataframe()
    rows = {r.code: r._error for r in df.select("code", "_error").collect()}
    # all three codes exist in mapping.json → no errors
    assert all(v is None for v in rows.values())

    # now break one code upstream and check it routes to err
    cfg2 = [
        {"type": "reader", "connector": {"type": "in_memory",
                                         "data": '[{"code": "value_to_map"}, {"code": "nope"}]'}},
        cfg[1],
    ]
    df2 = Pipeline(cfg2, spark).dataframe()
    rows2 = {r.code: r._error for r in df2.select("code", "_error").collect()}
    assert rows2["value_to_map"] is None
    assert rows2["nope"] == "code not in referential"
    assert not [c for c in df2.columns if c.startswith("__exists_")]


def test_validator_exists_rule_compound_condition(spark):
    """A compound rule keeps its non-referential terms: the exists
    sub-expression is spliced into the condition, not substituted for
    the whole rule (round-2 advice)."""
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory",
                                         "data": '[{"code": "value_to_map", "qty": 5},'
                                                 ' {"code": "value_to_map", "qty": -1},'
                                                 ' {"code": "nope", "qty": 5}]'}},
        {"type": "validator",
         "referentials": {"mapping_ref": {"connector": {"type": "local",
                                                        "path": f"{DATA}/mapping.json"},
                                          "document": {"type": "json"}}},
         "rules": {"code_and_qty": {
             "pattern": "{%- if input.qty > 0 and mapping_ref | filter(attribute='mapping_code', value=input.code) | length > 0 -%} true {%- else -%} false {%- endif -%}",
             "message": "bad"}}},
    ]
    df = Pipeline(cfg, spark).dataframe()
    rows = {(r.code, r.qty): r._error for r in df.select("code", "qty", "_error").collect()}
    assert rows[("value_to_map", 5)] is None
    assert rows[("value_to_map", -1)] == "bad"  # qty term must still apply
    assert rows[("nope", 5)] == "bad"


def test_validator_exists_rules_distinct_ref_keys(spark):
    """Two rules on the same alias+input key but different referential
    attributes must not share one exists column (round-2 advice)."""
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory",
                                         "data": '[{"code": "value_to_map"}]'}},
        {"type": "validator",
         "referentials": {"m": {"connector": {"type": "local",
                                              "path": f"{DATA}/mapping.json"},
                                "document": {"type": "json"}}},
         "rules": {
             "by_code": {"pattern": "{%- if m | filter(attribute='mapping_code', value=input.code) | length > 0 -%} true {%- else -%} false {%- endif -%}",
                         "message": "no code"},
             "by_value": {"pattern": "{%- if m | filter(attribute='mapping_value', value=input.code) | length > 0 -%} true {%- else -%} false {%- endif -%}",
                          "message": "no value"}}},
    ]
    df = Pipeline(cfg, spark).dataframe()
    row = df.collect()[0]
    # 'value_to_map' is a mapping_code but not a mapping_value →
    # exactly the second rule fails
    assert row._error == "no value"


def test_throw_routes_record_to_err_channel(spark, tmp_path):
    """Tera's throw(message=...) built-in fails the render and emits the
    record on the err channel (examples/local-chaine.rs cascade,
    examples/transform-throw_error.rs)."""
    import json as _json
    import os

    from chewdata_spark.pipeline import Pipeline

    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(_json.dumps({"number": n}) for n in (1, 10, 3)))
    ok_out = str(tmp_path / "ok")
    err_out = str(tmp_path / "err")
    cfg = [
        {"type": "r", "connector": {"type": "local", "path": str(src)}},
        {
            "type": "t",
            "actions": [
                {
                    "field": "/",
                    "pattern": (
                        "{% if input.number == 10 %}"
                        "{{ throw(message='data write in the file cascade_file2.json') }}"
                        "{% else %}{{ input | json_encode() }}{% endif %}"
                    ),
                }
            ],
        },
        {"type": "w", "connector": {"type": "local", "path": ok_out, "document": {"type": "jsonl"}}, "data_type": "ok"},
        {"type": "w", "connector": {"type": "local", "path": err_out, "document": {"type": "jsonl"}}, "data_type": "err"},
    ]
    Pipeline(cfg, spark).run()
    ok_rows = [_json.loads(line) for f in os.listdir(ok_out) if f.endswith((".json", ".jsonl")) or f.startswith("part-")
               for line in open(os.path.join(ok_out, f)) if line.strip()]
    err_rows = [_json.loads(line) for f in os.listdir(err_out) if f.endswith((".json", ".jsonl")) or f.startswith("part-")
                for line in open(os.path.join(err_out, f)) if line.strip()]
    assert sorted(r["number"] for r in ok_rows) == [1, 3]
    assert [r["number"] for r in err_rows] == [10]
    assert "cascade_file2" in err_rows[0]["_error"]


def test_throw_on_scalar_field_sets_error(spark):
    from chewdata_spark.operators.transformer import apply_actions

    df = spark.createDataFrame([(1,), (10,)], "number long")
    out = apply_actions(
        df,
        [
            {
                "field": "flag",
                "pattern": "{% if input.number == 10 %}{{ throw(message='bad ten') }}{% else %}ok{% endif %}",
            }
        ],
    )
    rows = {r["number"]: (r["flag"], r["_error"]) for r in out.collect()}
    assert rows[1] == ("ok", None)
    assert rows[10][0] is None and rows[10][1] == "bad ten"


def test_incidental_throw_substring_renders_normally(spark):
    """A template whose literal TEXT merely contains 'throw(' must not
    be treated as a throw template (regression: the substring gate used
    to raise UnsupportedTemplate)."""
    from chewdata_spark.operators.transformer import apply_actions, compile_throw_error

    assert compile_throw_error("how to call throw(message=...) docs") is None
    df = spark.createDataFrame([(1,)], "number long")
    out = apply_actions(
        df, [{"field": "note", "pattern": "see throw( usage guide"}]
    )
    rows = out.collect()
    assert rows[0]["note"] == "see throw( usage guide"
    assert "_error" not in out.columns or rows[0]["_error"] is None


def test_curate_step_exact_dedup(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    rows = [{"id": 1, "text": "a b c"}, {"id": 2, "text": "a b c"}, {"id": 3, "text": "x y z"}]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "exact_dedup", "key": "id", "fields": ["text"]},
    ]
    out = Pipeline(cfg, spark).dataframe().orderBy("id").collect()
    assert [r.id for r in out] == [1, 3]  # min-key survivor per content


def test_curate_step_minhash_dedup_and_split(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    base = "the quick brown fox jumps over the lazy dog near the river today again"
    rows = [
        {"id": 1, "text": base},
        {"id": 2, "text": base + " extra"},
        {"id": 3, "text": "completely different words about spark catalyst tungsten"},
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "minhash_dedup", "key": "id", "field": "text"},
        {"type": "curate", "method": "split", "key": "id"},
    ]
    out = Pipeline(cfg, spark).dataframe().collect()
    ids = sorted(r.id for r in out)
    assert ids == [1, 3]  # near-dup 2 clustered with 1, min-id survives
    assert all(r.split in ("train", "val", "test") for r in out)


def test_curate_step_sample_deterministic(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    rows = [{"id": i, "src": "a" if i % 2 else "b", "text": "w"} for i in range(200)]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "sample", "key": "id",
         "strata": "src", "rates": {"a": 0.5}, "default_rate": 1.0},
    ]
    out1 = {r.id for r in Pipeline(cfg, spark).dataframe().collect()}
    out2 = {r.id for r in Pipeline(cfg, spark).dataframe().collect()}
    assert out1 == out2  # md5 coin, not rand()
    assert all(i in out1 for i in range(0, 200, 2))  # stratum b fully kept
    n_a = sum(1 for i in out1 if i % 2)
    assert 25 <= n_a <= 75  # ~50% of stratum a


def test_curate_step_sa_pipeline_golden_decontam(spark, sf_dir, tmp_path):
    """NORTH-STAR composition golden test: a JSON config reads the
    documents parquet, runs the complete Lee et al. 2022 pipeline as a
    ``curate`` step (normalize -> line dedup -> whole-repeat cut ->
    benchmark decontamination -> source quota), writes parquet — and
    the WRITTEN FILE value-matches ``curate_pipeline_decontam_sa``'s
    independent composed DuckDB oracle.  Proves the §2 ETL surface
    (reader/writer/config compiler) and the LLM curation surface run
    the same core end-to-end."""
    import json as _json
    import os as _os

    from chewdata_spark.pipeline import Pipeline
    from chewdata_spark.queries import all_oracles
    from tests.oracle import canonical_rows, duckdb_connection

    out = str(tmp_path / "curated")
    cfg = _json.dumps([
        {"type": "reader",
         "connector": {"type": "local",
                       "path": _os.path.join(sf_dir, "documents.parquet")},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "sa_pipeline",
         "key": "doc_id", "field": "text",
         "benchmark_filter": "doc_id % 2 = 0",
         "grain": "char", "tile": 128, "min_len": 30,
         "compare_cap": 64, "bucket_len": 8,
         "quota": {"strata": "source", "max_per_stratum": 15},
         "carry": ["lang", "source"]},
        {"type": "writer", "connector": {"type": "local", "path": out},
         "document": {"type": "parquet"}},
    ])
    Pipeline.from_json(cfg, spark).run()
    got = spark.read.parquet(out)
    con = duckdb_connection(sf_dir)
    rel = con.sql(all_oracles()["curate_pipeline_decontam_sa"])
    assert canonical_rows(
        got.columns, [tuple(r) for r in got.collect()]
    ) == canonical_rows(list(rel.columns), rel.fetchall())


def test_curate_step_sa_pipeline_repeat_only_matches_full_sa(spark, sf_dir):
    """Without ``benchmark_filter`` the step is the repeat-cut-only
    flagship: result set equals curate_pipeline_full_sa's oracle."""
    import json as _json
    import os as _os

    from chewdata_spark.pipeline import Pipeline
    from chewdata_spark.queries import all_oracles
    from tests.oracle import canonical_rows, duckdb_connection

    cfg = _json.dumps([
        {"type": "reader",
         "connector": {"type": "local",
                       "path": _os.path.join(sf_dir, "documents.parquet")},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "sa_pipeline",
         "key": "doc_id", "field": "text",
         "grain": "char", "tile": 128, "min_len": 30,
         "quota": {"strata": "source", "max_per_stratum": 15},
         "carry": ["lang", "source"]},
    ])
    got = Pipeline.from_json(cfg, spark).dataframe()
    con = duckdb_connection(sf_dir)
    rel = con.sql(all_oracles()["curate_pipeline_full_sa"])
    assert canonical_rows(
        got.columns, [tuple(r) for r in got.collect()]
    ) == canonical_rows(list(rel.columns), rel.fetchall())


def test_curate_step_sa_pipeline_bpe_grain_matches_flagship(spark, sf_dir):
    """grain="bpe" through the config step: 64 merges train on the
    curated training text inside the shared core, and the result set
    equals curate_pipeline_decontam_sa_bpe's six-stage oracle (the
    step emits the generic ``clean_text`` name; the flagship publishes
    it as ``clean_pieces`` — aliased here for the column-name-sorted
    compare)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F

    from chewdata_spark.pipeline import Pipeline
    from chewdata_spark.queries import all_oracles
    from tests.oracle import canonical_rows, duckdb_connection

    cfg = _json.dumps([
        {"type": "reader",
         "connector": {"type": "local",
                       "path": _os.path.join(sf_dir, "documents.parquet")},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "sa_pipeline",
         "key": "doc_id", "field": "text",
         "benchmark_filter": "doc_id % 2 = 0",
         "grain": "bpe", "min_len": 9, "compare_cap": 64, "bpe_iters": 64,
         "quota": {"strata": "source", "max_per_stratum": 15},
         "carry": ["lang", "source"]},
    ])
    got = Pipeline.from_json(cfg, spark).dataframe().withColumnRenamed(
        "clean_text", "clean_pieces"
    )
    con = duckdb_connection(sf_dir)
    rel = con.sql(all_oracles()["curate_pipeline_decontam_sa_bpe"])
    assert canonical_rows(
        got.columns, [tuple(r) for r in got.collect()]
    ) == canonical_rows(list(rel.columns), rel.fetchall())


def test_curate_step_pack_shard_quota_match_operators(spark):
    """The three training-assembly config methods are 1:1 with their
    operators: pack emits the same manifest as pack_sequences, the
    shuffle and quota survivor sets are deterministic md5 decisions
    (identical across two compiles)."""
    import json as _json

    import pyspark.sql.functions as F

    from chewdata_spark.operators.curation import (
        pack_sequences,
        shard_shuffle,
        stratum_quota,
    )
    from chewdata_spark.pipeline import Pipeline

    rows = [{"id": i, "src": f"s{i % 3}",
             "text": " ".join(f"w{j}" for j in range(5 + i % 7))}
            for i in range(60)]
    rd = {"type": "reader",
          "connector": {"type": "in_memory", "data": _json.dumps(rows)}}
    df = spark.createDataFrame(
        [(r["id"], r["src"], r["text"]) for r in rows],
        "id long, src string, text string",
    )

    got = Pipeline([rd, {"type": "curate", "method": "pack", "key": "id",
                         "seq_len": 16}], spark).dataframe()
    n_tokens = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    want = pack_sequences(df, "id", n_tokens, seq_len=16)
    assert sorted((r.id, r.start_offset, r.first_seq, r.last_seq)
                  for r in got.collect()) == sorted(
        (r.doc_id, r.start_offset, r.first_seq, r.last_seq)
        for r in want.collect())

    got = Pipeline([rd, {"type": "curate", "method": "shard_shuffle",
                         "key": "id", "num_shards": 4, "seed": "z"}],
                   spark).dataframe()
    want = shard_shuffle(df, "id", num_shards=4, seed="z")
    assert sorted((r.id, r.shard, r.pos) for r in got.collect()) == sorted(
        (r.id, r.shard, r.pos) for r in want.collect())

    got = Pipeline([rd, {"type": "curate", "method": "quota", "key": "id",
                         "strata": "src", "max_per_stratum": 5}],
                   spark).dataframe()
    want = stratum_quota(df, "src", "id", max_per_stratum=5)
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in want.collect())
    assert got.count() == 15  # 3 strata x 5


def test_curate_step_sa_pipeline_rejects_unknown_keys(spark):
    """A misspelled sa_pipeline option must FAIL LOUDLY: a silently
    ignored "benchmark_filte" would run the whole pipeline without
    decontamination and report success."""
    import json as _json

    import pytest as _pytest

    from chewdata_spark.pipeline import Pipeline

    cfg = [
        {"type": "reader", "connector": {"type": "in_memory",
         "data": _json.dumps([{"doc_id": 1, "text": "a b c d e f"}])}},
        {"type": "curate", "method": "sa_pipeline", "key": "doc_id",
         "benchmark_filte": "doc_id % 2 = 0"},
    ]
    with _pytest.raises(ValueError, match="benchmark_filte"):
        Pipeline(cfg, spark).dataframe()
    cfg[1] = {"type": "curate", "method": "sa_pipeline", "key": "doc_id",
              "quota": {"strata": "src", "max_per_strtum": 3}}
    with _pytest.raises(ValueError, match="max_per_strtum"):
        Pipeline(cfg, spark).dataframe()
    # non-dict quota must get a clear type error, not a per-character
    # unknown-option list from set("source")
    cfg[1] = {"type": "curate", "method": "sa_pipeline", "key": "doc_id",
              "quota": "source"}
    with _pytest.raises(ValueError, match="quota must be an object"):
        Pipeline(cfg, spark).dataframe()


def test_curate_step_rejects_unknown_method(spark):
    import json

    import pytest as _pytest

    from chewdata_spark.pipeline import Pipeline

    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps([{"a": 1}])}},
        {"type": "curate", "method": "nope"},
    ]
    with _pytest.raises(ValueError, match="unsupported curate method"):
        Pipeline(cfg, spark).dataframe()


@pytest.fixture(scope="module")
def curate_src(spark, tmp_path_factory):
    """One small parquet document set, read batch or as a stream."""
    path = str(tmp_path_factory.mktemp("curate_src") / "docs")
    spark.createDataFrame(
        [(1, "a b c", "en")], "id int, text string, lang string"
    ).write.parquet(path)
    return path


def _curate_error(spark, src, step, *, stream=False):
    """Compile reader -> curate step; the ValueError text, or None."""
    rd = {"type": "reader", "connector": {"type": "local", "path": src},
          "document": {"type": "parquet"}, "stream": stream}
    try:
        Pipeline([rd, {"type": "curate", **step}], spark).dataframe()
    except ValueError as e:
        return str(e)
    return None


@pytest.mark.parametrize("method", sorted(_CURATE_METHODS))
def test_curate_method_table_checks(spark, curate_src, method):
    """Every method of the curate table: an unknown option is rejected
    by name, a missing key exactly when the method needs one, and a
    non-streaming method under a stream reader."""
    spec = _CURATE_METHODS[method]
    err = _curate_error(spark, curate_src, {"method": method, "key": "id", "bogus_opt": 1})
    assert err is not None and "bogus_opt" in err
    err = _curate_error(spark, curate_src, {"method": method})
    assert (err is not None and "needs 'key'" in err) == spec.needs_key, err
    err = _curate_error(spark, curate_src, {"method": method, "key": "id"}, stream=True)
    assert (err is not None and "not stream-capable" in err) == (not spec.streams), err


def test_curate_unknown_method_under_stream_reader(spark, curate_src):
    err = _curate_error(spark, curate_src, {"method": "nope"}, stream=True)
    assert err is not None and "unsupported curate method 'nope'" in err


def test_object_config_rejected_when_parsed():
    """A config that is one object, not a step list, fails at parse
    time with the same error in JSON and YAML."""
    for parse, text in [(Pipeline.from_json, '{"type": "r"}'),
                        (Pipeline.from_config, '{"type": "r"}'),
                        (Pipeline.from_config, "type: r")]:
        with pytest.raises(ValueError, match="config must be a list of steps"):
            parse(text)


def test_curate_step_sa_pipeline_max_bucket_null_means_no_cap(spark):
    """``"max_bucket": null`` runs sa_pipeline without the hot-bucket
    cap, as it does for minhash_dedup: on a corpus whose buckets all fit
    under the default cap the output equals the default run's."""
    passage = "a passage of well over thirty characters shared by every document"
    rows = [{"doc_id": i, "text": f"document {i} opens here. {passage}. closing words {i}"}
            for i in range(1, 5)]

    def run(**opts):
        cfg = [
            {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
            {"type": "curate", "method": "sa_pipeline", "key": "doc_id", "field": "text",
             "grain": "char", **opts},
        ]
        return sorted(tuple(r) for r in Pipeline(cfg, spark).dataframe().collect())

    uncapped = run(max_bucket=None)
    assert uncapped == run()
    # every document is kept, and the repeat is cut from each
    assert [r[0] for r in uncapped] == [1, 2, 3, 4]
    assert not any(passage in r[-1] for r in uncapped)


def test_example_configs_compile_and_run(spark):
    import json
    import pathlib

    from chewdata_spark.pipeline import Pipeline

    for cfg_path in sorted(pathlib.Path("examples").glob("*.json")):
        cfg = json.loads(cfg_path.read_text())
        # drop the trailing stdout writer so the test stays quiet
        steps = [s for s in cfg if s.get("type") not in ("writer", "w")]
        df = Pipeline(steps, spark).dataframe()
        assert df.count() > 0, cfg_path


def test_curate_step_lines_dedup_and_span_cut(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    line = "this exact same long line appears in two documents here"
    rows = [
        {"id": 1, "text": line + "\nunique one two three four five"},
        {"id": 2, "text": line + "\nanother unique line with words"},
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "lines_dedup", "key": "id", "field": "text"},
    ]
    out = {r.id: r.text for r in Pipeline(cfg, spark).dataframe().collect()}
    assert line in out[1]
    assert line not in out[2]  # global first-occurrence wins


def test_curate_step_decontaminate_with_benchmark_reader(spark, tmp_path):
    import json

    from chewdata_spark.pipeline import Pipeline

    bench_path = tmp_path / "bench.json"
    bench_path.write_text(json.dumps(
        [{"id": 100, "text": "secret benchmark phrase alpha beta gamma delta"}]
    ))
    rows = [
        {"id": 1, "text": "contains the secret benchmark phrase alpha beta gamma delta inside"},
        {"id": 2, "text": "totally clean document with unrelated words only"},
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "decontaminate", "key": "id", "field": "text",
         "n": 4, "benchmark": {"connector": {"type": "local", "path": str(bench_path)},
                                "document": {"type": "json"}}},
    ]
    out = [r.id for r in Pipeline(cfg, spark).dataframe().collect()]
    assert out == [2]


def test_curate_step_quality_and_gopher_filters(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    good = ("the quick brown fox jumps over the lazy dog and that have with "
            "be to of many various words indeed " * 3)
    bad = "!!! ??? ### !!!"
    rows = [{"id": 1, "text": good}, {"id": 2, "text": bad}]
    cfg_q = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "quality_filter", "field": "text", "min_quality": 0.5},
    ]
    assert [r.id for r in Pipeline(cfg_q, spark).dataframe().collect()] == [1]
    cfg_g = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "gopher_filter", "key": "id", "field": "text"},
    ]
    assert [r.id for r in Pipeline(cfg_g, spark).dataframe().collect()] == [1]


def test_curate_step_span_cut(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    span = "one two three four five six seven eight"
    rows = [
        {"id": 1, "text": span + " first unique tail words here"},
        {"id": 2, "text": span + " second unique tail words here"},
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "span_cut", "key": "id", "field": "text", "k": 8},
    ]
    out = {r.id: r.text for r in Pipeline(cfg, spark).dataframe().collect()}
    assert span in out[1]       # first occurrence survives
    assert span not in out[2]   # duplicated 8-gram span cut from doc 2


def test_curate_step_preserves_err_channel(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    rows = [{"id": 1, "text": "a b c"}, {"id": 2, "text": "a b c"}, {"id": 3, "text": ""}]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "validator",
         "rules": {"nonempty": {"pattern": "{{ input.text != '' }}",
                                 "message": "empty text"}}},
        {"type": "curate", "method": "exact_dedup", "key": "id", "fields": ["text"]},
    ]
    out = Pipeline(cfg, spark).dataframe().collect()
    by_id = {r.id: r for r in out}
    # dup id=2 curated away from the ok stream; err record id=3 passes through
    assert set(by_id) == {1, 3}
    assert by_id[3]._error is not None
    assert by_id[1]._error is None


def test_curate_rewrite_methods_keep_null_text_rows(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    rows = [
        {"id": 1, "text": "long enough line with five words\nlong enough line with five words"},
        {"id": 2, "text": None},
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "lines_dedup", "key": "id", "field": "text"},
    ]
    out = {r.id: r.text for r in Pipeline(cfg, spark).dataframe().collect()}
    assert set(out) == {1, 2}  # NULL-text record survives the rewrite
    assert out[2] is None


def test_curate_step_classifier_filter(spark):
    import json

    from chewdata_spark.operators.curation import (
        hashed_classifier_score,
        synthetic_classifier_weights,
    )
    from chewdata_spark.pipeline import Pipeline

    rows = [{"id": i, "text": f"doc number {i} with some words here"} for i in range(20)]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "classifier_filter", "key": "id",
         "field": "text", "min_score": 0.53},
    ]
    out = {r.id for r in Pipeline(cfg, spark).dataframe().collect()}
    # must equal direct operator output with the same synthetic weights
    df = spark.createDataFrame([(r["id"], r["text"]) for r in rows], ["id", "text"])
    w = synthetic_classifier_weights(spark, dim=256, salt="qw")
    expect = {
        r.doc_id
        for r in hashed_classifier_score(df, "id", "text", w, dim=256)
        .filter("clf_score >= 0.53")
        .collect()
    }
    assert out == expect and 0 < len(out) < 20


def test_curate_step_dsir_select(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    rows = [
        {"id": i, "lang": "en" if i % 2 else "de",
         "text": ("the quick brown fox " if i % 2 else "der schnelle braune fuchs ") * 3}
        for i in range(40)
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "dsir_select", "key": "id", "field": "text",
         "target_field": "lang", "target_value": "en", "min_log_importance": 0.0},
    ]
    out = {r.id for r in Pipeline(cfg, spark).dataframe().collect()}
    # en docs score target-like (positive log ratio), de docs negative
    assert out == {i for i in range(40) if i % 2}


def test_curate_step_dsir_top_frac(spark):
    import json

    from chewdata_spark.pipeline import Pipeline

    rows = [
        {"id": i, "lang": "en" if i % 2 else "de",
         "text": ("the quick brown fox " if i % 2 else "der schnelle braune fuchs ") * 3}
        for i in range(40)
    ]
    cfg = [
        {"type": "reader", "connector": {"type": "in_memory", "data": json.dumps(rows)}},
        {"type": "curate", "method": "dsir_select", "key": "id", "field": "text",
         "target_field": "lang", "target_value": "en", "top_frac": 0.5},
    ]
    out = {r.id for r in Pipeline(cfg, spark).dataframe().collect()}
    # the top half by en-likeness is exactly the en half
    assert out == {i for i in range(40) if i % 2}
