"""Dump .explain('formatted') for named queries into plans/<tag>/.

Usage: python scripts/dump_plans.py <tag_dir_suffix> q1 q2 ...
e.g.   python scripts/dump_plans.py r15/before curate_pipeline_decontam_sa

Writes plans/<tag>/<query>.txt (the caller renames to _before/_after
or passes a tag directory per side).  Process-dependent ids are
normalized so two checkouts' dumps diff directly: expression ids
(``#123`` -> ``#N``), the process-global ``observe`` names
(``sa_ingest_<n>``, ``minhash_lsh_<n>``, ... -> ``..._N``), exchange
plan ids and checkpointed RDD ids with their call sites.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chewdata_spark.queries import all_queries
from chewdata_spark.session import get_spark

_IDS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    # every observe-name prefix numbered by operators/dedup.py::_OBS_SEQ
    (
        re.compile(
            r"\b(sa_ingest|sa_arrivals|sa_stream_ingest|sa_stream_ingest_bpe"
            r"|sa_stream_cut|minhash_lsh|simhash_lsh|contamination_probe"
            r"|entity_resolution)_\d+\b"
        ),
        r"\1_N",
    ),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,]*"), r"RDD[N] at \1"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("chewdata_spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(txt))
        print(f"wrote plans/{tag}/{name}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
