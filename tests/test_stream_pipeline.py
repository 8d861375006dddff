"""The config compiler's streaming path: ``"stream": true`` on a
reader step turns the whole pipeline into a Structured Streaming job
(file-source stream -> stream-compiled curate steps -> foreachBatch
writer).  The golden contract throughout: an availableNow streaming
run returns EXACTLY what the batch pipeline returns on the same input,
for ANY micro-batch arrival order — which is why streaming exact_dedup
is a min_by stateful aggregation, not arrival-order dropDuplicates.

Reference: the execution model being mirrored is the reference's async
record channels between steps (src/lib.rs:85-89); the semantics are
the batch compiler's, already certified by curate_config_decontam_sa.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from chewdata_spark.pipeline import Pipeline
from chewdata_spark.streaming.ops import run_to_memory
from tests.test_documents import DATA

SF = os.environ.get("CHEWDATA_TEST_SF_DIR", "/root/testdata/sf0.001")


def _collect_stream(p: Pipeline, cols=None):
    df = p.dataframe()
    assert df.isStreaming
    if cols:
        df = df.select(*cols)
    out = run_to_memory(df, "_tsp", output_mode=p.stream_output_mode)
    return sorted(tuple(r) for r in out.collect())


def _curate_cfg(stream: bool) -> list[dict]:
    rd = {
        "type": "reader",
        "connector": {"type": "local",
                      "path": f"{SF}/documents.parquet"},
        "document": {"type": "parquet"},
    }
    if stream:
        rd["stream"] = True
    return [
        rd,
        {"type": "curate", "method": "language_filter", "lang": "en"},
        {"type": "curate", "method": "quality_filter", "min_quality": 0.6},
        {"type": "curate", "method": "classifier_filter",
         "key": "doc_id", "min_score": 0.46},
        {"type": "curate", "method": "exact_dedup", "key": "doc_id"},
    ]


def test_stream_config_matches_batch_config(spark):
    """THE golden: the same JSON config with and without the stream
    flag produces identical rows (the full 4-stage curation funnel,
    including the stateful exact_dedup aggregation)."""
    cols = ["doc_id", "lang", "source"]
    batch = sorted(
        tuple(r)
        for r in Pipeline(_curate_cfg(False), spark)
        .dataframe().select(*cols).collect()
    )
    got = _collect_stream(Pipeline(_curate_cfg(True), spark), cols)
    assert len(batch) > 0
    assert got == batch


def _write_docs(spark, tmpdir: str, rows, n_files: int = 1) -> str:
    """Plant documents as n_files SEPARATE parquet files under a dir,
    so maxFilesPerTrigger can slice them into distinct micro-batches."""
    path = os.path.join(tmpdir, "docs")
    per = max(1, (len(rows) + n_files - 1) // n_files)
    for i in range(0, len(rows), per):
        spark.createDataFrame(
            rows[i:i + per], "doc_id int, text string"
        ).coalesce(1).write.mode("append").parquet(path)
    return path


def test_stream_exact_dedup_min_key_across_batches(spark, tmp_path):
    """Survivor = min key per content signature even when the copies
    arrive in DIFFERENT micro-batches in unfavorable order (the larger
    key first): maxFilesPerTrigger=1 forces one file per batch, and the
    min_by complete-mode state still picks the batch-order-independent
    survivor — where dropDuplicates would have kept first-arrival."""
    rows = [
        (7, "dup one"), (9, "solo a"),      # file 1: larger dup key first
        (2, "dup one"), (8, "solo b"),      # file 2: the true survivor
        (5, "dup one"), (1, "dup two"),     # file 3
        (4, "dup two"),
    ]
    path = _write_docs(spark, str(tmp_path), rows, n_files=3)
    cfg = [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": path},
         "document": {"type": "parquet",
                      "options": {"maxFilesPerTrigger": "1"}}},
        {"type": "curate", "method": "exact_dedup", "key": "doc_id"},
    ]
    p = Pipeline(cfg, spark)
    got = _collect_stream(p, ["doc_id", "text"])
    assert p.stream_output_mode == "complete"
    assert got == [(1, "dup two"), (2, "dup one"), (8, "solo b"),
                   (9, "solo a")]


GOPHER_PASS = (
    "the quick brown fox jumps with and that have this they at for was "
    "over a lazy dog near the river bank while birds sing songs of the "
    "morning light and people walk their dogs along quiet streets with "
    "coffee in hand thinking about the day ahead and all the small "
    "things that make life feel steady and good every single morning"
)


def test_stream_gopher_filter_matches_batch(spark, tmp_path):
    """The per-row streaming gopher predicate keeps/drops the same docs
    as the batch gate-relation semi-join, on docs built to pass and
    fail specific Gopher rules."""
    rows = [
        (1, GOPHER_PASS),          # passes every rule
        (2, "too short"),          # fails the 50-word minimum
        (3, " ".join(["xqzt"] * 80)),  # fails stopword rule
    ]
    path = _write_docs(spark, str(tmp_path), rows)
    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": path},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [rd, {"type": "curate", "method": "gopher_filter",
                     "key": "doc_id"}]
    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark).dataframe().collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark))
    assert [r[0] for r in batch] == [1]
    assert got == batch


def test_stream_writer_foreach_batch_parquet(spark, tmp_path):
    """A writer step under a streaming reader goes through foreachBatch
    and lands the same parquet rows as the batch pipeline (run(), not
    just dataframe())."""
    out_dir = os.path.join(str(tmp_path), "out")
    cfg = _curate_cfg(True) + [
        {"type": "writer",
         "connector": {"type": "local", "path": out_dir},
         "document": {"type": "parquet"}},
    ]
    p = Pipeline(cfg, spark)
    _, writes = p.run()
    assert writes and writes[0].fmt == "parquet"
    written = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "lang", "source").collect()
    )
    batch = sorted(
        tuple(r)
        for r in Pipeline(_curate_cfg(False), spark)
        .dataframe().select("doc_id", "lang", "source").collect()
    )
    assert written == batch


def test_stream_rejects_non_stream_capable_method(spark):
    cfg = _curate_cfg(True)[:1] + [
        {"type": "curate", "method": "minhash_dedup", "key": "doc_id"},
    ]
    with pytest.raises(ValueError, match="not stream-capable"):
        Pipeline(cfg, spark).dataframe()


def test_stream_rejects_non_local_connector(spark):
    cfg = [{
        "type": "reader", "stream": True,
        "connector": {"type": "in_memory",
                      "data": json.dumps([{"a": 1}])},
    }]
    with pytest.raises(ValueError, match="local file readers"):
        Pipeline(cfg, spark).dataframe()


def test_stream_classifier_scores_bit_match_batch(spark, sf_dir):
    """The per-row fold score equals the relational path's rounded
    score doc-for-doc (FP summation order differs; 6-dp rounding
    absorbs it) — checked over the whole documents table, not just the
    filter survivors."""
    from chewdata_spark.operators.curation import (
        classifier_score_expr,
        hashed_classifier_score,
        synthetic_classifier_weights,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    w = synthetic_classifier_weights(spark, dim=256, salt="qw")
    rel = {
        r["doc_id"]: r["clf_score"]
        for r in hashed_classifier_score(
            docs, "doc_id", "text", w, dim=256
        ).collect()
    }
    wmap = {int(r["dim"]): float(r["w"]) for r in w.collect()}
    fold = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", classifier_score_expr("text", wmap, 256).alias("s")
        ).collect()
    }
    assert fold == rel


def test_stream_decontaminate_matches_batch_any_arrival_order(
    spark, tmp_path
):
    """Streaming decontaminate (one complete-mode aggregation over a
    stream-static broadcast gram join) keeps/drops the same docs as the
    batch anti-join path, even with every file its own micro-batch —
    including the zero-gram edge (NULL text survives both paths)."""
    bench_path = os.path.join(str(tmp_path), "bench")
    spark.createDataFrame(
        [(100, "the secret eval answer is forty two")],
        "doc_id int, text string",
    ).write.parquet(bench_path)
    rows = [
        (1, "clean document with plain words only here"),
        (2, "we think the secret eval answer is forty two exactly"),
        (3, "another clean one nothing shared at all"),
        (4, None),
        (5, "forty two said the answer but grams differ here"),
    ]
    path = _write_docs_nullable(spark, str(tmp_path), rows, n_files=3)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": path},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
            rd["document"] = {"type": "parquet",
                              "options": {"maxFilesPerTrigger": "1"}}
        return [rd, {"type": "curate", "method": "decontaminate",
                     "key": "doc_id", "n": 4,
                     "benchmark": {
                         "connector": {"type": "local",
                                       "path": bench_path},
                         "document": {"type": "parquet"}}}]

    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark).dataframe().collect()
    )
    p = Pipeline(cfg(True), spark)
    got = _collect_stream(p)
    assert p.stream_output_mode == "complete"
    # doc 2 shares the 4-grams "the secret eval answer" etc.; the rest
    # (incl. the NULL-text doc) survive
    assert sorted(r[0] for r in batch) == [1, 3, 4, 5]
    assert got == batch


def _write_docs_nullable(spark, tmpdir: str, rows, n_files: int = 1) -> str:
    path = os.path.join(tmpdir, "docs_n")
    per = max(1, (len(rows) + n_files - 1) // n_files)
    for i in range(0, len(rows), per):
        spark.createDataFrame(
            rows[i:i + per], "doc_id int, text string"
        ).coalesce(1).write.mode("append").parquet(path)
    return path


def test_stream_sample_and_split_match_batch(spark):
    """The hash-coin projections (stratified sample, train/val/test
    split) are stateless per-row decisions — identical rows out of the
    streaming and batch compilers."""
    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local",
                            "path": f"{SF}/documents.parquet"},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [
            rd,
            {"type": "curate", "method": "sample", "key": "doc_id",
             "strata": "source", "rates": {"web": 0.5},
             "default_rate": 1.0},
            {"type": "curate", "method": "split", "key": "doc_id"},
        ]

    cols = ["doc_id", "source", "split"]
    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark)
        .dataframe().select(*cols).collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark), cols)
    assert len(batch) > 0
    assert {r[2] for r in batch} >= {"train"}
    assert got == batch


def test_stream_transformer_validator_match_batch(spark, tmp_path):
    """The §2.1 core steps compile onto a streaming relation untouched:
    transformer actions are per-row Column pipelines and validator
    rules a projection, so 'stream': true composes with the reference's
    own step language, not just the curate extension."""
    path = os.path.join(str(tmp_path), "recs")
    spark.createDataFrame(
        [(1, 5, "a"), (2, 25, "b"), (3, 15, "c")],
        "id int, number int, s string",
    ).coalesce(1).write.parquet(path)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": path},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [
            rd,
            {"type": "transformer", "actions": [
                {"field": "number_x10",
                 "pattern": "{{ input.number * 10 }}"},
                {"field": "greeting",
                 "pattern": "hello {{ input.s | upper }}"},
            ]},
            {"type": "validator", "rules": {
                "small": {"pattern": "{{ input.number <= 20 }}",
                          "message": "too big"}}},
        ]

    cols = ["id", "number_x10", "greeting", "_error"]
    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark)
        .dataframe().select(*cols).collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark), cols)
    assert len(batch) == 3
    assert got == batch


def test_stream_checkpoint_incremental_rerun(spark, tmp_path):
    """The durable-checkpoint contract: a second availableNow run of
    the same config only processes files that arrived AFTER the first
    run — the incremental-ingest semantics a resident config-driven
    service relies on."""
    src = os.path.join(str(tmp_path), "incoming")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    spark.createDataFrame(
        [(1, "first wave")], "doc_id int, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    def cfg():
        return [
            {"type": "reader", "stream": True,
             "connector": {"type": "local", "path": src},
             "document": {"type": "parquet"}},
            {"type": "writer", "checkpoint": ckpt,
             "connector": {"type": "local", "path": out},
             "document": {"type": "parquet"}},
        ]

    Pipeline(cfg(), spark).run()
    first = spark.read.parquet(out).count()
    assert first == 1
    spark.createDataFrame(
        [(2, "second wave"), (3, "third row")],
        "doc_id int, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    Pipeline(cfg(), spark).run()
    back = sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    )
    assert back == [1, 2, 3]


def test_reader_where_pushes_to_scan(spark):
    """The reader-level ``where`` clause is declarative: Catalyst must
    push it into the parquet scan (a config that reads a slice never
    pays for the whole table), and the same key works on sub-configs
    (the decontaminate benchmark reader) and streaming readers."""
    from chewdata_spark.plans.inspection import pushed_filters

    cfg = [{
        "type": "reader",
        "where": "doc_id % 2 = 1 AND doc_id > 100",
        "connector": {"type": "local",
                      "path": f"{SF}/documents.parquet"},
        "document": {"type": "parquet"},
    }]
    df = Pipeline(cfg, spark).dataframe()
    pushed = " ".join(pushed_filters(df))
    assert "doc_id" in pushed  # at least GreaterThan(doc_id,100) pushed
    assert df.count() > 0
    assert df.filter("doc_id % 2 = 0 OR doc_id <= 100").count() == 0


def test_stream_referential_lookup_matches_batch(spark, tmp_path):
    """A transformer referential under a streaming reader is a
    stream-static broadcast join (the referential reads once, batch);
    the mapped value matches the batch pipeline row-for-row."""
    path = os.path.join(str(tmp_path), "coded")
    spark.createDataFrame(
        [(1, "value_to_map"), (2, "value_to_map_2"), (3, "no_match")],
        "id int, code string",
    ).coalesce(1).write.parquet(path)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": path},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [rd, {
            "type": "transformer",
            "referentials": {"mapping_ref": {
                "connector": {
                    "type": "local",
                    "path": f"{DATA}/mapping.json"},
                "document": {"type": "json"}}},
            "actions": [{
                "field": "mapped",
                "pattern": ("{{ mapping_ref | filter(attribute="
                            "'mapping_code', value=input.code) | first "
                            "| map(attribute='mapping_value') }}"),
            }],
        }]

    cols = ["id", "code", "mapped"]
    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark)
        .dataframe().select(*cols).collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark), cols)
    assert ("1", "value_to_map", "value mapped") in {
        tuple(map(str, r)) for r in batch
    }
    assert got == batch


def test_stream_rejects_second_stateful_step(spark, tmp_path):
    """Spark allows ONE streaming aggregation per query; chaining two
    stateful curate steps must fail at config compile time with both
    step names, not at stream start with an opaque analysis error."""
    path = os.path.join(str(tmp_path), "d2")
    spark.createDataFrame(
        [(1, "a b c d e")], "doc_id int, text string"
    ).write.parquet(path)
    bench = os.path.join(str(tmp_path), "b2")
    spark.createDataFrame(
        [(9, "x y z w v")], "doc_id int, text string"
    ).write.parquet(bench)
    cfg = [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": path},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "exact_dedup", "key": "doc_id"},
        {"type": "curate", "method": "decontaminate", "key": "doc_id",
         "benchmark": {"connector": {"type": "local", "path": bench},
                       "document": {"type": "parquet"}}},
    ]
    with pytest.raises(ValueError, match="exact_dedup already holds"):
        Pipeline(cfg, spark).dataframe()


def test_stream_ingest_dedup_append_mode_matches_batch(spark, tmp_path):
    """curate.ingest_dedup is ONE code path for batch and stream (a
    stream-static anti-join is stateless), keeps APPEND output mode
    (no complete-mode re-emit — the resident-ingest shape), and drops
    exactly the arrivals whose content signature exists in the seen
    corpus."""
    seen_path = os.path.join(str(tmp_path), "seen")
    spark.createDataFrame(
        [(90, "already ingested doc"), (91, "another known doc")],
        "doc_id int, text string",
    ).write.parquet(seen_path)
    rows = [
        (1, "fresh content one"),
        (2, "already ingested doc"),   # dup of seen 90 → dropped
        (3, "fresh content two"),
        (4, "another known doc"),      # dup of seen 91 → dropped
    ]
    path = _write_docs(spark, str(tmp_path), rows, n_files=2)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": path},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
            rd["document"] = {"type": "parquet",
                              "options": {"maxFilesPerTrigger": "1"}}
        return [rd, {"type": "curate", "method": "ingest_dedup",
                     "field": "text",
                     "seen": {"connector": {"type": "local",
                                            "path": seen_path},
                              "document": {"type": "parquet"}}}]

    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark).dataframe().collect()
    )
    p = Pipeline(cfg(True), spark)
    got = _collect_stream(p)
    assert p.stream_output_mode == "append"
    assert sorted(r[0] for r in batch) == [1, 3]
    assert got == batch


def test_stream_ingest_then_stateful_still_allowed(spark, tmp_path):
    """ingest_dedup is stateless, so it composes with the ONE allowed
    stateful step: ingest anti-join then exact_dedup within the batch
    still compiles and matches the batch pipeline."""
    seen_path = os.path.join(str(tmp_path), "seen2")
    spark.createDataFrame(
        [(90, "known doc")], "doc_id int, text string"
    ).write.parquet(seen_path)
    rows = [
        (5, "new dup"), (2, "new dup"), (7, "known doc"), (9, "solo"),
    ]
    path = _write_docs(spark, str(tmp_path), rows, n_files=2)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": path},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [
            rd,
            {"type": "curate", "method": "ingest_dedup", "field": "text",
             "seen": {"connector": {"type": "local", "path": seen_path},
                      "document": {"type": "parquet"}}},
            {"type": "curate", "method": "exact_dedup", "key": "doc_id"},
        ]

    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark).dataframe().collect()
    )
    p = Pipeline(cfg(True), spark)
    got = _collect_stream(p)
    assert p.stream_output_mode == "complete"
    assert sorted(r[0] for r in batch) == [2, 9]
    assert got == batch


def test_stream_plan_shapes_state_contract(spark, tmp_path):
    """Pins the state claims in SCALING.md: ingest_dedup compiles to a
    stateless streaming plan (no aggregation anywhere — the anti-join's
    static side holds the state on disk), while decontaminate compiles
    to exactly ONE aggregation (the single complete-mode state store)
    with the benchmark side broadcast."""
    seen_path = os.path.join(str(tmp_path), "sp_seen")
    spark.createDataFrame(
        [(90, "known doc")], "doc_id int, text string"
    ).write.parquet(seen_path)
    src = os.path.join(str(tmp_path), "sp_src")
    spark.createDataFrame(
        [(1, "a b c d e")], "doc_id int, text string"
    ).write.parquet(src)
    rd = {"type": "reader", "stream": True,
          "connector": {"type": "local", "path": src},
          "document": {"type": "parquet"}}

    ingest = Pipeline([
        rd,
        {"type": "curate", "method": "ingest_dedup", "field": "text",
         "seen": {"connector": {"type": "local", "path": seen_path},
                  "document": {"type": "parquet"}}},
    ], spark)
    plan = ingest.dataframe()._jdf.queryExecution().analyzed().toString()
    assert "Aggregate" not in plan
    assert "Join LeftAnti" in plan

    decon = Pipeline([
        rd,
        {"type": "curate", "method": "decontaminate", "key": "doc_id",
         "benchmark": {"connector": {"type": "local", "path": seen_path},
                       "document": {"type": "parquet"}}},
    ], spark)
    ddf = decon.dataframe()
    dplan = ddf._jdf.queryExecution().analyzed().toString()
    assert dplan.count("Aggregate") == 1  # the one allowed state store
    assert "broadcast" in dplan.lower()  # benchmark side hinted


def test_stream_ok_err_writer_routing(spark, tmp_path):
    """The reference's per-record error channel routes on streams: a
    validator marks failing rows in `_error`, and two streaming writers
    with data_type ok/err land disjoint row sets that together equal
    the batch pipeline's routing (reference DataResult::Ok|Err)."""
    src = os.path.join(str(tmp_path), "oe_src")
    spark.createDataFrame(
        [(1, 10), (2, 25), (3, 15), (4, 40)], "id int, number int"
    ).coalesce(1).write.parquet(src)
    ok_out = os.path.join(str(tmp_path), "ok")
    err_out = os.path.join(str(tmp_path), "err")
    cfg = [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": src},
         "document": {"type": "parquet"}},
        {"type": "validator", "rules": {
            "small": {"pattern": "{{ input.number <= 20 }}",
                      "message": "too big"}}},
        {"type": "writer", "data_type": "ok",
         "connector": {"type": "local", "path": ok_out},
         "document": {"type": "parquet"}},
        {"type": "writer", "data_type": "err",
         "connector": {"type": "local", "path": err_out},
         "document": {"type": "parquet"}},
    ]
    Pipeline(cfg, spark).run()
    ok_ids = sorted(r.id for r in spark.read.parquet(ok_out).collect())
    err_ids = sorted(r.id for r in spark.read.parquet(err_out).collect())
    assert ok_ids == [1, 3]
    assert err_ids == [2, 4]


def test_stream_reader_ignores_sibling_prefix_dirs(spark, tmp_path):
    """A directory path is watched as-is: /x/docs must NOT silently
    ingest /x/docs_old (the path+'*' glob would)."""
    path = os.path.join(str(tmp_path), "docs")
    sibling = os.path.join(str(tmp_path), "docs_old")
    spark.createDataFrame(
        [(1, "current")], "doc_id int, text string"
    ).write.parquet(path)
    spark.createDataFrame(
        [(99, "stale")], "doc_id int, text string"
    ).write.parquet(sibling)
    cfg = [{"type": "reader", "stream": True,
            "connector": {"type": "local", "path": path},
            "document": {"type": "parquet"}}]
    got = _collect_stream(Pipeline(cfg, spark))
    assert [r[0] for r in got] == [1]


def test_stream_mix_matches_batch_and_direct_operator(spark):
    """curate.mix (epoch-weighted upsampling) is a generate+filter
    projection: identical rows from the config path, the streaming
    config path, and the direct operator."""
    from chewdata_spark.operators.curation import weighted_mix

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local",
                            "path": f"{SF}/documents.parquet"},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [rd, {"type": "curate", "method": "mix", "key": "doc_id",
                     "strata": "lang",
                     "weights": {"en": 2.5, "zh": 0.5}}]

    cols = ["doc_id", "lang", "epoch"]
    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark)
        .dataframe().select(*cols).collect()
    )
    direct = sorted(
        tuple(r)
        for r in weighted_mix(
            spark.read.parquet(f"{SF}/documents.parquet"),
            "lang", {"en": 2.5, "zh": 0.5}, "doc_id",
        ).select(*cols).collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark), cols)
    assert len(batch) > 0
    assert {r[2] for r in batch} >= {1, 2}  # epochs actually emitted
    assert batch == direct
    assert got == batch


def test_stream_writer_mustache_partitioning(spark, tmp_path):
    """A mustache output path ({{ field }}) under a streaming writer
    becomes partitionBy exactly as in batch: files land under
    field=value directories and read back complete."""
    src = os.path.join(str(tmp_path), "mp_src")
    spark.createDataFrame(
        [(1, "en", "a"), (2, "fr", "b"), (3, "en", "c")],
        "doc_id int, lang string, text string",
    ).coalesce(1).write.parquet(src)
    out = os.path.join(str(tmp_path), "by_lang", "{{ lang }}")
    cfg = [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": src},
         "document": {"type": "parquet"}},
        {"type": "writer",
         "connector": {"type": "local", "path": out},
         "document": {"type": "parquet"}},
    ]
    Pipeline(cfg, spark).run()
    root = os.path.join(str(tmp_path), "by_lang")
    back = spark.read.parquet(root)
    assert sorted(
        (r.doc_id, r.lang) for r in back.select("doc_id", "lang").collect()
    ) == [(1, "en"), (2, "fr"), (3, "en")]
    subdirs = {d for d in os.listdir(root) if d.startswith("lang=")}
    assert subdirs == {"lang=en", "lang=fr"}


def test_stream_exact_dedup_arrival_order_property(spark, tmp_path):
    """Property-style sweep: for several corpora with duplicate
    signatures scattered across MANY single-file micro-batches in
    different orders, the streaming survivor set always equals the
    batch survivor set (min key per content signature)."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        keys = list(range(1, 13))
        rng.shuffle(keys)
        texts = [f"t{rng.randint(0, 4)}" for _ in keys]  # heavy dups
        rows = list(zip(keys, texts))
        path = os.path.join(str(tmp_path), f"prop{trial}")
        per = rng.choice([1, 2, 3])
        for i in range(0, len(rows), per):
            spark.createDataFrame(
                rows[i:i + per], "doc_id int, text string"
            ).coalesce(1).write.mode("append").parquet(path)

        def cfg(stream):
            rd = {"type": "reader",
                  "connector": {"type": "local", "path": path},
                  "document": {"type": "parquet"}}
            if stream:
                rd["stream"] = True
                rd["document"] = {"type": "parquet",
                                  "options": {"maxFilesPerTrigger": "1"}}
            return [rd, {"type": "curate", "method": "exact_dedup",
                         "key": "doc_id"}]

        batch = sorted(
            tuple(r)
            for r in Pipeline(cfg(False), spark).dataframe().collect()
        )
        got = _collect_stream(Pipeline(cfg(True), spark))
        expected = sorted(
            (min(k for k, t in rows if t == txt), txt)
            for txt in {t for _, t in rows}
        )
        assert batch == expected
        assert got == batch, f"trial {trial} diverged"


def test_stream_generator_duplication_matches_batch(spark, tmp_path):
    """A generator step after a streaming reader runs in duplication
    mode (posexplode — map-side, stateless) and matches the batch
    pipeline copy-for-copy."""
    src = os.path.join(str(tmp_path), "gd_src")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, s string"
    ).coalesce(1).write.parquet(src)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": src},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [rd, {"type": "generator", "size": 3}]

    cols = ["id", "s", "copy_id"]
    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark)
        .dataframe().select(*cols).collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark), cols)
    assert len(batch) == 6
    assert got == batch


def test_stream_exact_dedup_custom_fields_signature(spark, tmp_path):
    """The `fields` option (content signature over chosen columns, not
    just the default text field) drives the streaming min_by state key
    exactly as in batch."""
    src = os.path.join(str(tmp_path), "cf_src")
    rows = [
        (5, "en", "x"), (2, "en", "y"),   # same lang -> dup by fields
        (7, "fr", "z"), (1, "fr", "w"),   # same lang -> dup by fields
    ]
    spark.createDataFrame(
        rows, "doc_id int, lang string, text string"
    ).coalesce(1).write.parquet(src)

    def cfg(stream):
        rd = {"type": "reader",
              "connector": {"type": "local", "path": src},
              "document": {"type": "parquet"}}
        if stream:
            rd["stream"] = True
        return [rd, {"type": "curate", "method": "exact_dedup",
                     "key": "doc_id", "fields": ["lang"]}]

    batch = sorted(
        tuple(r)
        for r in Pipeline(cfg(False), spark).dataframe().collect()
    )
    got = _collect_stream(Pipeline(cfg(True), spark))
    assert sorted(r[0] for r in batch) == [1, 2]  # min key per lang
    assert got == batch


@pytest.mark.parametrize("stream", [False, True], ids=["batch", "stream"])
def test_exact_dedup_null_keys_smallest_non_null_survives(spark, tmp_path, stream):
    """NULL keys order last: each content group keeps the row with its
    smallest non-NULL key, and a group whose keys are all NULL keeps
    one of its rows whole, in batch and under a stream reader."""
    src = os.path.join(str(tmp_path), "nk_src")
    spark.createDataFrame(
        [(None, "a"), (None, "a"), (1, "b"), (None, "b"), (2, "c")],
        "id int, string string",
    ).coalesce(1).write.parquet(src)
    cfg = [
        {"type": "reader", "stream": stream,
         "connector": {"type": "local", "path": src},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "exact_dedup", "key": "id", "field": "string"},
    ]
    p = Pipeline(cfg, spark)
    out = p.dataframe()
    if stream:
        out = run_to_memory(out, "_tsp_null_keys", output_mode=p.stream_output_mode)
    got = sorted((tuple(r) for r in out.collect()), key=lambda r: r[1])
    assert got == [(None, "a"), (1, "b"), (2, "c")]


@pytest.mark.parametrize(
    "metadata, columns, rows",
    [({"delimiter": ";"}, ["a", "b"], [(1, "x"), (2, "y")]),
     ({"delimiter": ";", "has_headers": False}, ["_c0", "_c1"],
      [("1", "x"), ("2", "y"), ("a", "b")])],
    ids=["delimiter", "no_headers"],
)
def test_stream_csv_reader_honours_document_metadata(spark, tmp_path, metadata, columns, rows):
    """A ``stream: true`` CSV reader reads with the document metadata
    and the batch reader's CSV defaults, so it returns the batch rows."""
    src = tmp_path / "in.csv"
    src.write_text("a;b\n1;x\n2;y\n")

    def cfg(stream):
        return [{"type": "reader", "stream": stream,
                 "connector": {"type": "local", "path": str(src)},
                 "document": {"type": "csv", "metadata": metadata}}]

    batch = Pipeline(cfg(False), spark).dataframe()
    streamed = run_to_memory(Pipeline(cfg(True), spark).dataframe(), "_tsp_csv")
    assert batch.columns == streamed.columns == columns
    assert sorted(tuple(r) for r in batch.collect()) == rows
    assert sorted(tuple(r) for r in streamed.collect()) == rows


def test_stream_checkpoint_resume_reloads_dedup_state(spark, tmp_path):
    """The durable-checkpoint contract with state: a second availableNow
    run of a named-checkpoint ``exact_dedup`` stream reads only the new
    file, yet its complete-mode output equals the batch pipeline over
    ALL files.  The first wave's survivors come back from the state
    store the checkpoint manager wrote, and a smaller key arriving later
    for an existing signature replaces that signature's survivor."""
    src = os.path.join(str(tmp_path), "incoming")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", "").endswith(
        ".checkpointing.FileSystemBasedCheckpointFileManager")

    def land(rows):
        spark.createDataFrame(rows, "doc_id int, text string").coalesce(1).write.mode(
            "append").parquet(src)

    def cfg(stream: bool):
        rd = {"type": "reader", "connector": {"type": "local", "path": src},
              "document": {"type": "parquet"}}
        steps = [rd, {"type": "curate", "method": "exact_dedup", "key": "doc_id"}]
        if stream:
            rd["stream"] = True
            steps.append({"type": "writer", "checkpoint": ckpt,
                          "connector": {"type": "local", "path": out},
                          "document": {"type": "parquet"}})
        return steps

    def landed():
        return sorted(tuple(r) for r in spark.read.parquet(out).select(
            "doc_id", "text").collect())

    land([(5, "alpha"), (7, "beta"), (3, "beta")])
    Pipeline(cfg(True), spark).run()
    assert landed() == [(3, "beta"), (5, "alpha")]
    land([(2, "alpha"), (9, "gamma")])
    Pipeline(cfg(True), spark).run()
    batch = sorted(tuple(r) for r in Pipeline(cfg(False), spark).dataframe().select(
        "doc_id", "text").collect())
    assert batch == [(2, "alpha"), (3, "beta"), (9, "gamma")]
    assert landed() == batch
    # one committed batch per run: the second run read only the new
    # file, so (3, "beta") came back from the first run's state files
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert sorted(c for c in commits if not c.startswith(".")) == ["0", "1"]


def test_stream_unnamed_checkpoint_is_removed(spark, tmp_path, monkeypatch):
    """A streaming writer with no ``checkpoint`` drains through a
    temporary checkpoint directory and removes it once the query ends,
    so repeated runs leave no state files behind in the temp dir."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id int, text string"
    ).coalesce(1).write.parquet(src)
    cfg = [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": src},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "exact_dedup", "key": "doc_id"},
        {"type": "writer", "connector": {"type": "local", "path": out},
         "document": {"type": "parquet"}},
    ]
    for _ in range(2):
        Pipeline(cfg, spark).run()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 3]
    assert os.listdir(tmp) == []


_READLINK_PROBE = r"""
import json, os, sys
from chewdata_spark.pipeline import Pipeline
from chewdata_spark.session import get_spark

src, out, log = sys.argv[1:4]
KEY = "spark.sql.streaming.checkpointFileManagerClass"
spark = get_spark("readlink-probe")
spark.sparkContext.setLogLevel("ERROR")
default = spark.conf.get(KEY, None)


def spawned():
    if not os.path.exists(log):
        return 0
    with open(log) as fh:
        return len(fh.readlines())


def drain(name, manager):
    if manager is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, manager)
    target = os.path.join(out, name)
    cfg = [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": src},
         "document": {"type": "jsonl"}},
        {"type": "curate", "method": "exact_dedup", "key": "id", "field": "s"},
        {"type": "writer", "checkpoint": target + "_ckpt",
         "connector": {"type": "local", "path": target},
         "document": {"type": "jsonl"}},
    ]
    before = spawned()
    Pipeline(cfg, spark).run()
    ids = sorted(r.id for r in spark.read.json(target).collect())
    return {"readlink": spawned() - before, "ids": ids}


control = drain("control", "org.apache.spark.sql.execution.streaming."
                "checkpointing.FileContextBasedCheckpointFileManager")
print(json.dumps({"default": default, "control": control,
                  "session_default": drain("default", default)}))
"""


def test_stream_checkpoint_writes_spawn_no_readlink(tmp_path):
    """Streaming checkpoint and state-store files are written without a
    ``readlink`` process per file.  Without the native Hadoop library,
    Spark's FileContext checkpoint manager checks each rename target
    through a shell ``readlink``; the session default (the FileSystem
    manager) checks in-process.  A fresh JVM with a logging ``readlink``
    first on PATH drains the same ``exact_dedup`` stream twice: under
    the FileContext manager (the control: the shim must log) and under
    the session default (it must log nothing)."""
    import shutil
    import subprocess
    import sys

    real = shutil.which("readlink")
    shims = tmp_path / "bin"
    shims.mkdir()
    log = tmp_path / "readlink.log"
    shim = shims / "readlink"
    shim.write_text(f'#!/bin/sh\necho "$@" >> "{log}"\nexec "{real}" "$@"\n')
    shim.chmod(0o755)
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate([[(4, "a"), (2, "b")], [(1, "a"), (3, "c")]]):
        (src / f"part-{i}.jsonl").write_text(
            "".join(json.dumps({"id": k, "s": s}) + "\n" for k, s in rows))
    (tmp_path / "tmp").mkdir()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PATH=f"{shims}{os.pathsep}{os.environ.get('PATH', '')}",
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
        TMPDIR=str(tmp_path / "tmp"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _READLINK_PROBE, str(src), str(tmp_path / "out"), str(log)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["control"]["ids"] == got["session_default"]["ids"] == [1, 2, 3]
    assert got["control"]["readlink"] > 0
    assert got["session_default"]["readlink"] == 0
    assert got["default"].endswith(".checkpointing.FileSystemBasedCheckpointFileManager")
