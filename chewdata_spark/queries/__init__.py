"""Query registry: every implemented operator exposed as a named query.

Each submodule defines ``QUERIES: dict[name, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, sql]`` (DuckDB-runnable ANSI SQL producing the
same rows/columns).  Names without an oracle entry are genuinely
non-SQL-expressible (randomized LSH bucketing etc.) and get a
rows-only check from the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _modules():
    from chewdata_spark.queries import (
        analytics,
        chewdata_ops,
        curation_queries,
        dedup_queries,
        extra,
        relational,
        similarity_queries,
        text_queries,
        timeseries_queries,
        tokenize_queries,
        tpch_extra,
        tpch_rest,
    )  # noqa: F401

    return (
        relational,
        tpch_extra,
        tpch_rest,
        chewdata_ops,
        dedup_queries,
        similarity_queries,
        text_queries,
        curation_queries,
        timeseries_queries,
        tokenize_queries,
        analytics,
        extra,
    )


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _modules():
        out.update(mod.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLES)
    return out


def query_index_markdown() -> str:
    """docs/QUERIES.md content: the grouped index of every registered
    query with oracle status and first docstring line (regenerate with
    `python scripts/gen_query_index.py`; tests assert freshness)."""
    oracles = set(all_oracles())
    out = [
        "# Query index (auto-generated — `python scripts/gen_query_index.py`)",
        "",
        "`oracle` = full DuckDB value-hash check; `rows` = rows-only driver",
        "check (recall-tested against an exact or portable twin — see",
        "docs/VERIFICATION.md).",
        "",
    ]
    body = []
    total = n_oracle = 0
    for mod in _modules():
        body.append(f"## {mod.__name__.split('.')[-1]}")
        body.append("")
        body.append("| query | check | what |")
        body.append("|---|---|---|")
        for qname in sorted(mod.QUERIES):
            doc = (mod.QUERIES[qname].__doc__ or "").strip()
            line = doc.split("\n")[0].strip().rstrip(".") or "—"
            kind = "oracle" if qname in oracles else "rows"
            total += 1
            n_oracle += qname in oracles
            body.append(f"| `{qname}` | {kind} | {line} |")
        body.append("")
    out.append(f"**{total} queries, {n_oracle} oracle-backed.**")
    out.append("")
    out.extend(body)
    return "\n".join(out) + "\n"
