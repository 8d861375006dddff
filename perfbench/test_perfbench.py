"""Tests of the benchmark itself; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.relpath(os.path.join(d, n), root)] = fh.read()
    return out


# -- generators ----------------------------------------------------------

@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_a_function_of_the_seed(name, tmp_path):
    wl = workloads.WORKLOADS[name]
    a, b, other = (wl.rows(s) for s in (3, 3, 4))
    assert a == b
    assert a != other
    wl.write(a, str(tmp_path / "a"))
    wl.write(b, str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))


def test_etl_line_is_the_json_of_its_row():
    for r in gen.etl_rows(5, n=500):
        assert json.loads(gen.etl_line(r)) == r


def test_etl_inputs_exercise_dedup_and_both_channels():
    rows = gen.etl_rows(1)
    survivors = len({r["string"] for r in rows})
    ok = check.etl_expected(rows)
    assert 0.2 < 1 - survivors / len(rows) < 0.4
    assert 0.8 * survivors < len(ok) < 0.98 * survivors


# -- checkers ------------------------------------------------------------

def _write_ok(run_dir, ok: dict) -> None:
    os.makedirs(run_dir / "ok")
    with open(run_dir / "ok" / "part-00000.json", "w") as fh:
        for r in ok.values():
            fh.write(json.dumps(r) + "\n")


def test_etl_checker_accepts_the_reference_and_rejects_corruption(tmp_path):
    rows = gen.etl_rows(2, n=2000)
    ok = check.etl_expected(rows)
    good = tmp_path / "good"
    _write_ok(good, ok)
    checker = check.EtlChecker(rows)
    assert checker(str(good)) is None

    # a surviving record whose text repeats later, under a higher id
    by_text = {r["string"]: i for i, r in ok.items()}
    dup = next(r for r in rows if by_text.get(r["string"], r["id"]) != r["id"])
    first = by_text[dup["string"]]
    bad_value = {**ok, first: {**ok[first], "sorted_list": "X"}}
    missing = dict(ok)
    del missing[first]
    # the repeat must not survive in place of the lowest id
    extra = {**missing, dup["id"]: {**ok[first], "id": dup["id"]}}
    for name, o in {"value": bad_value, "missing": missing, "duplicate": extra}.items():
        _write_ok(tmp_path / name, o)
        assert checker(str(tmp_path / name)) is not None, name


def _write_parquet(path, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-00000.parquet"))


def test_sa_checker_accepts_the_oracle_and_rejects_corruption(tmp_path):
    docs = gen.sa_rows(7, n=80)
    inputs = gen.write_sa(docs, str(tmp_path / "in"))
    checker = check.SaChecker(inputs["documents"])
    import duckdb

    from chewdata_spark.queries import all_oracles

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inputs['documents']}')")
    rel = con.sql(all_oracles()["curate_pipeline_decontam_sa"])
    rows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    assert any(r["n_cut"] > 0 for r in rows), "planted repeats should be cut"
    _write_parquet(tmp_path / "good" / "curated", rows)
    assert checker(str(tmp_path / "good")) is None
    corrupt = [dict(r) for r in rows]
    corrupt[0]["clean_text"] += " extra"
    _write_parquet(tmp_path / "bad" / "curated", corrupt)
    assert checker(str(tmp_path / "bad")) is not None


# -- printed names -------------------------------------------------------

def test_printed_end_to_end_names_match_benchmark_json():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_printed_layer_names_match_benchmark_json():
    bench = _benchmark()
    res = {"trace": {"metrics": {}}, "import_s": 1.0, "get_spark_s": 1.0,
           "warmup_s": [3.0], "host_probe_s": 0.5,
           "memory_mb": {"heap_peak": 900.0, "non_heap_peak": 250.0, "python_peak": 140.0}}
    printed = run.layer_metrics(res)
    assert {k: m["unit"] for k, m in printed.items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]}


# -- tracing arithmetic --------------------------------------------------

def test_ladder_rungs_add_up_to_the_full_run():
    steps = workloads.etl_stream_steps({"records": "r", "mapping": "m"}, "out")
    names = tracing.ladder_rungs(steps)
    assert names == ["documents.read_s", "transformer.s", "curate.s", "validator.s",
                     "documents.write_s"]
    rungs = list(zip(names, [0.5, 0.9, 1.2, 2.0, 2.6]))
    self_times = tracing.ladder_self_times(rungs, full_s=2.8)
    assert self_times["transformer.s"] == pytest.approx(0.4)
    assert self_times["ladder.remainder_s"] == pytest.approx(0.2)
    assert sum(self_times.values()) == pytest.approx(2.8)


def test_event_log_window_metrics():
    log = {
        "jobs": {0: {"submit": 1000, "end": 1400}, 1: {"submit": 1300, "end": 1600},
                 2: {"submit": 5000, "end": 5100}},
        "stages": [1000, 1350, 5000],
        "tasks": [(1001, {"Executor Run Time": 300, "Executor CPU Time": 2e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}),
                  (1351, {"Executor Run Time": 300}), (5001, {"Executor Run Time": 50})],
    }
    m = tracing.window_metrics(log, 900, 2000, wall_s=1.0)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (2, 2, 2)
    assert m["spark.in_job_s"] == pytest.approx(0.6)
    assert m["spark.driver_gap_s"] == pytest.approx(0.4)
    assert m["spark.busy_cores"] == pytest.approx(1.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.2)
