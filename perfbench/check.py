"""Output checks: each config run's output against a reference computed
without the engine.

- ``etl_stream``: the ok rows recomputed in plain Python from the
  generator's rows: the lowest ``id`` per distinct ``string``
  survives, gets the transformer's fields, and lands in the ok output
  when it passes both validator rules.
- ``curate_sa``: value-equal to the ``curate_pipeline_decontam_sa``
  DuckDB oracle over the same documents file, compared the way
  ``tests/oracle.py::canonical_rows`` compares (columns sorted by name,
  rows sorted, exact values).

A checker returns ``None`` when the output is right and a one-line
reason when it is not.
"""

from __future__ import annotations

import glob
import json
import math
import os

import gen


def etl_expected(rows: list[dict]) -> dict[int, dict]:
    """id -> the ok record as the jsonl writer prints it (null fields
    left out), for the survivors that pass validation."""
    known = {m["mapping_code"]: m["mapping_value"] for m in gen.mapping_rows()}
    survivor: dict[str, dict] = {}
    for r in rows:
        if r["string"] not in survivor or r["id"] < survivor[r["string"]]["id"]:
            survivor[r["string"]] = r
    ok: dict[int, dict] = {}
    for r in survivor.values():
        mapped = known.get(r["code"])
        if not r["number"] > 0 or mapped is None:
            continue
        ok[r["id"]] = {
            **r,
            "number_x2": r["number"] * 2,
            "string_upper": r["string"].upper(),
            "sorted_list": "-".join(reversed(r["list_to_sort"].split(","))),
            "round_floor": math.floor(r["round"] * 100.0) / 100.0,
            "mapped": mapped,
        }
    return ok


class EtlChecker:
    def __init__(self, rows: list[dict]):
        self.expected = etl_expected(rows)

    def __call__(self, run_dir: str) -> str | None:
        lines: list[bytes] = []
        for path in sorted(glob.glob(os.path.join(run_dir, "ok", "part-*"))):
            with open(path, "rb") as fh:
                lines.extend(line for line in fh.read().split(b"\n") if line)
        if len(lines) != len(self.expected):
            return f"{len(lines)} ok rows, expected {len(self.expected)}"
        seen = set()
        for line in lines:
            rec = json.loads(line)
            rid = rec.get("id")
            if rid in seen or self.expected.get(rid) != rec:
                return f"ok row id={rid} differs from the reference"
            seen.add(rid)
        return None


def _canonical(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def sa_oracle(documents_path: str) -> list[tuple]:
    """The decontaminating SA flagship's composed DuckDB oracle, run
    over ``documents_path``."""
    import duckdb

    from chewdata_spark.queries import all_oracles

    con = duckdb.connect()
    try:
        quoted = documents_path.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{quoted}')")
        rel = con.sql(all_oracles()["curate_pipeline_decontam_sa"])
        return _canonical(list(rel.columns), rel.fetchall())
    finally:
        con.close()


class SaChecker:
    def __init__(self, documents_path: str):
        self.expected = sa_oracle(documents_path)

    def __call__(self, run_dir: str) -> str | None:
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(run_dir, "curated", "*.parquet")))
        table = pq.read_table(files) if files else None
        got = [] if table is None else _canonical(
            table.column_names, list(zip(*(c.to_pylist() for c in table.columns))))
        if got != self.expected:
            return f"{len(got)} rows differ from the oracle's {len(self.expected)}"
        return None
