"""The benchmark's workloads: what each one feeds the engine, which
config it runs and how its output is checked.

Each workload is one JSON step list run through the public config entry
point (``Pipeline.from_config(cfg, spark).run()``), the same call
``python -m chewdata_spark`` makes.

- ``etl_stream``: the reference's core ETL as a stream.  A
  ``stream: true`` jsonl reader (2 files per micro-batch, so 5
  micro-batches) -> transformer (arithmetic, ``upper``,
  ``split|reverse|join``, ``round``, referential lookup) -> ``curate
  exact_dedup`` (complete-mode state) -> validator (``number > 0``,
  code exists in the referential) -> ok jsonl writer through
  foreachBatch.  Work lands in the document codecs, the
  template->Column compiler, the broadcast lookups, the ok/err routing
  and the streaming state store, once per micro-batch; the suffix-array
  code stays idle.
- ``curate_sa``: the suffix-array curation flagship as a config step.
  It is bound by driver round trips (dozens of small jobs), so job-count
  cuts in ``operators/suffix.py`` and ``operators/curation.py`` show here
  and nowhere else; the transformer, validator and streaming code stay
  idle.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Callable

import check
import gen

ETL_ACTIONS = [
    {"field": "number_x2", "pattern": "{{ input.number * 2 }}"},
    {"field": "string_upper", "pattern": "{{ input.string | upper }}"},
    {"field": "sorted_list",
     "pattern": "{{ input.list_to_sort | split(pat=',') | reverse | join(sep='-') }}"},
    {"field": "round_floor",
     "pattern": "{{ input.round | round(method='floor', precision=2) }}"},
    {"field": "mapped",
     "pattern": "{{ m | filter(attribute='mapping_code', value=input.code) | first "
                "| map(attribute='mapping_value') }}"},
]
ETL_RULES = {
    "positive": {"pattern": "{{ input.number > 0 }}",
                 "message": "number must be positive"},
    "known_code": {
        "pattern": "{%- if m | filter(attribute='mapping_code', value=input.code) "
                   "| length > 0 -%} true {%- else -%} false {%- endif -%}",
        "message": "code not in referential"},
}

SA_STEP = {
    "type": "curate", "method": "sa_pipeline",
    "key": "doc_id", "field": "text",
    "benchmark_filter": "doc_id % 2 = 0",
    "grain": "char", "tile": 128, "min_len": 30,
    "compare_cap": 64, "bucket_len": 8,
    "quota": {"strata": "source", "max_per_stratum": 15},
    "carry": ["lang", "source"],
}


def etl_stream_steps(inputs: dict, out: str) -> list[dict]:
    ref = {"m": {"connector": {"type": "local", "path": inputs["mapping"]},
                 "document": {"type": "jsonl"}}}
    return [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": inputs["records"]},
         "document": {"type": "jsonl", "options": {"maxFilesPerTrigger": "2"}}},
        {"type": "transformer", "referentials": ref, "actions": ETL_ACTIONS},
        {"type": "curate", "method": "exact_dedup", "key": "id", "field": "string"},
        {"type": "validator", "referentials": ref, "rules": ETL_RULES},
        # the checkpoint is named so the run writes nowhere but `out`
        {"type": "writer", "data_type": "ok",
         "connector": {"type": "local", "path": os.path.join(out, "ok")},
         "document": {"type": "jsonl"},
         "checkpoint": os.path.join(out, "checkpoint")},
    ]


def sa_steps(inputs: dict, out: str) -> list[dict]:
    return [
        {"type": "reader",
         "connector": {"type": "local", "path": inputs["documents"]},
         "document": {"type": "parquet"}},
        SA_STEP,
        {"type": "writer",
         "connector": {"type": "local", "path": os.path.join(out, "curated")},
         "document": {"type": "parquet"}},
    ]


@dataclass(frozen=True)
class Workload:
    name: str
    records: int
    # config runs before timing starts, and fewest timed runs
    warmup: int
    min_timed: int
    stream: bool
    rows: Callable[[int], Any]  # seed -> input rows
    write: Callable[[Any, str], dict]  # (rows, root) -> input paths
    checker: Callable[[Any, dict], Callable[[str], str | None]]  # (rows, inputs)
    steps: Callable[[dict, str], list[dict]]  # (inputs, out) -> step list

    def config(self, inputs: dict, out: str) -> str:
        return json.dumps(self.steps(inputs, out))


WORKLOADS = {
    "etl_stream": Workload(
        "etl_stream", gen.ETL_RECORDS, warmup=3, min_timed=3, stream=True,
        rows=gen.etl_rows, write=gen.write_etl,
        checker=lambda rows, inputs: check.EtlChecker(rows),
        steps=etl_stream_steps),
    "curate_sa": Workload(
        "curate_sa", gen.SA_DOCS, warmup=4, min_timed=3, stream=False,
        rows=gen.sa_rows, write=gen.write_sa,
        checker=lambda rows, inputs: check.SaChecker(inputs["documents"]),
        steps=sa_steps),
}
