"""Config → DataFrame-plan compiler.

The reference executes a JSON/HJSON/YAML array of steps as concurrent
async tasks linked by bounded channels (src/lib.rs:46-98).  Here the
same config *compiles* to a lazy DataFrame chain — channels disappear,
Catalyst plans the whole pipeline (pushdown through every step), and
one action per terminal writer executes it.

Supported steps (reference src/step/mod.rs:27-54):

- ``reader``    {connector:{type:local|in_memory, path|data}, document:{type:...}, name, data_type}
- ``transformer`` {actions:[{field, pattern, type}], referentials:{alias: reader-config}, data_type}
- ``validator`` {rules:{name:{pattern, message}}, error_separator, data_type}
- ``writer``    {connector:{type:local, path}, document:{type:...}, data_type}
- ``generator`` {record_limit}
- ``eraser``    {connector:{path}} — compiles to overwrite mode on the
  matching writer (Spark's idempotent-output equivalent of truncate)

Semantics preserved from the reference:

- **data_type routing**: each step transforms only its ok/err stream
  and passes the other through unchanged (union after).
- **Mustache paths**: ``dir/file_{{ field }}.json`` on a writer becomes
  ``partitionBy(field)`` — the distributed equivalent of the per-record
  path re-render + flush (src/step/writer.rs:156-200).
- **Referentials**: named sub-readers (src/step/referential.rs) become
  broadcast joins when a transformer action uses the lookup idiom
  ``{{ alias | filter(attribute='k', value=input.x) | first | map(attribute='v') }}``.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chewdata_spark.operators.errors import err_stream, ok_stream, with_error_col
from chewdata_spark.operators.generator import generate
from chewdata_spark.operators.transformer import Action, apply_actions
from chewdata_spark.operators.validator import DEFAULT_SEPARATOR, Rule, apply_rules
from chewdata_spark.sources.documents import read_document, write_document

_MUSTACHE_PATH = re.compile(r"\{\{\s*([\w.]+)\s*\}\}")

# connector-config holes referencing the upstream record
# (reference `connector.set_parameters(context)`, src/step/reader.rs:137:
# the context renders as {"input": <record>, "steps": {...}}, so variable
# connectors spell their holes `{{ input.<field> }}`)
_PARAM_HOLE = re.compile(r"\{\{\s*input\.([\w.]+)\s*\}\}")

# ``{{ CHEWDATA_X }}`` environment holes in a config string
_ENV_HOLE = re.compile(r"\{\{\s*(CHEWDATA_\w+)\s*\}\}")


def _parse_steps(config: str, loads: Any) -> list[dict[str, Any]]:
    """Substitute the config's ``CHEWDATA_*`` holes, parse it with
    ``loads`` (JSON or YAML) and check that it is a step list."""

    def env_repl(m: re.Match) -> str:
        val = os.environ.get(m.group(1))
        if val is None:
            raise KeyError(f"environment variable {m.group(1)!r} referenced in config but not set")
        return val

    steps = loads(_ENV_HOLE.sub(env_repl, config))
    if not isinstance(steps, list):
        raise ValueError("config must be a list of steps")
    return steps


class _FanoutOverflow(Exception):
    """Distinct-parameter cardinality exceeded the fan-out limit."""


def _param_key(fields: list[str]) -> dict[str, str]:
    return {f: f"__in_{f.replace('.', '_')}" for f in fields}


def _render_input_holes(node: Any, record: dict, ctype: str, _key: str | None = None) -> Any:
    """Render ``{{ input.* }}`` holes in a connector config against one
    upstream record (reference ``replace_mustache``, src/helper/mustache.rs:53
    + connector ``set_parameters``).  A psql ``query`` hole renders as an
    escaped SQL literal; everything else as plain text."""
    if isinstance(node, dict):
        return {k: _render_input_holes(v, record, ctype, k) for k, v in node.items()}
    if isinstance(node, list):
        return [_render_input_holes(v, record, ctype, _key) for v in node]
    if not isinstance(node, str):
        return node
    if ctype == "psql" and _key == "query":
        from chewdata_spark.sources.jdbc import sql_literal

        fmt = sql_literal
    else:
        fmt = lambda v: "" if v is None else str(v)  # noqa: E731

    def repl(m: re.Match) -> str:
        name = m.group(1)
        if name not in record:
            raise KeyError(f"parameterized connector references unknown field input.{name}")
        return fmt(record[name])

    return _PARAM_HOLE.sub(repl, node)


# validator "exists in referential" idiom (src/step/validator.rs:66)
_EXISTS_RULE = re.compile(
    r"(\w+)\s*\|\s*filter\s*\(\s*attribute\s*=\s*[\"']([\w.]+)[\"']\s*,"
    r"\s*value\s*=\s*input\.([\w.]+)\s*\)\s*\|\s*length\s*>\s*0"
)

# the referential lookup idiom; both quote styles, and both projection
# spellings the reference tests use: `map(attribute=...)` and
# `get(key=...)` (tests/transformer.rs:256-309)
_LOOKUP = re.compile(
    r"^\s*(\w+)\s*\|\s*filter\s*\(\s*attribute\s*=\s*[\"']([\w.]+)[\"']\s*,\s*value\s*=\s*input\.([\w.]+)\s*\)"
    r"\s*\|\s*first\s*\|\s*(?:map\s*\(\s*attribute|get\s*\(\s*key)\s*=\s*[\"']([\w.]+)[\"']\s*\)\s*$"
)


@dataclass(frozen=True)
class _CurateMethod:
    options: set[str]  # the method's own step keys
    needs_key: bool = True  # needs the step's `key` column
    streams: bool = False  # usable under a `stream: true` reader


# step keys every curate method accepts
_CURATE_COMMON = {"type", "method", "name", "key", "field", "data_type"}
# every curate method (see Pipeline._curate).  The streaming ones are
# per-row filters, hash-coin projections, one complete-mode aggregation
# (exact_dedup, decontaminate) or a stream-static anti-join (ingest_dedup)
_CURATE_METHODS = {
    "exact_dedup": _CurateMethod({"fields"}, streams=True),
    "ingest_dedup": _CurateMethod({"seen", "fields", "seen_fields"}, needs_key=False,
                                  streams=True),
    "minhash_dedup": _CurateMethod({"threshold", "max_bucket"}),
    "quality_filter": _CurateMethod({"min_quality"}, needs_key=False, streams=True),
    "language_filter": _CurateMethod({"lang"}, needs_key=False, streams=True),
    "gopher_filter": _CurateMethod(set(), streams=True),
    "classifier_filter": _CurateMethod({"dim", "weights", "salt", "min_score"}, streams=True),
    "dsir_select": _CurateMethod({"target_field", "target_value", "dim", "top_frac",
                                  "min_log_importance"}),
    "logprob_filter": _CurateMethod({"drop_frac"}),
    "sa_pipeline": _CurateMethod({"benchmark_filter", "grain", "tile", "min_len",
                                  "compare_cap", "bucket_len", "max_bucket", "bpe_iters",
                                  "quota", "carry"}),
    "sample": _CurateMethod({"strata", "rates", "default_rate"}, streams=True),
    "mix": _CurateMethod({"strata", "weights", "default_weight"}, streams=True),
    "split": _CurateMethod({"val", "test"}, streams=True),
    "pack": _CurateMethod({"seq_len"}),
    "shard_shuffle": _CurateMethod({"num_shards", "seed"}),
    "quota": _CurateMethod({"strata", "max_per_stratum", "seed"}),
    "lines_dedup": _CurateMethod({"min_words"}),
    "span_cut": _CurateMethod({"k"}),
    "decontaminate": _CurateMethod({"benchmark", "benchmark_field", "n", "min_hits"},
                                   streams=True),
}


@dataclass
class WriteResult:
    path: str
    fmt: str
    rows_df: DataFrame


@dataclass
class Pipeline:
    """Compile and run a chewdata-style step list on Spark."""

    steps: list[dict[str, Any]]
    spark: SparkSession | None = None
    _erased_paths: set[str] = field(default_factory=set)

    @classmethod
    def from_json(cls, config: str, spark: SparkSession | None = None) -> "Pipeline":
        """Parse a JSON config with CHEWDATA_* environment substitution
        (reference env_applier, src/main.rs:73-113): ``{{ CHEWDATA_X }}``
        holes are replaced by the environment value before parsing."""
        return cls(_parse_steps(config, json.loads), spark)

    @classmethod
    def from_config(cls, config: str, spark: SparkSession | None = None) -> "Pipeline":
        """Parse a JSON *or YAML* config string (the reference CLI
        accepts JSON/HJSON/YAML, src/main.rs:73-111; HJSON has no
        python stdlib parser — YAML covers its common forms)."""
        try:
            return cls.from_json(config, spark)
        except json.JSONDecodeError:
            import yaml

            return cls(_parse_steps(config, yaml.safe_load), spark)

    # -- compilation ---------------------------------------------------------

    def dataframe(self) -> DataFrame:
        """Compile the chain and return the final DataFrame (no writes)."""
        df, _ = self._compile(execute_writes=False)
        return df

    def run(self) -> tuple[DataFrame, list[WriteResult]]:
        """Compile and execute: every writer saves; returns (final df, writes)."""
        return self._compile(execute_writes=True)

    @property
    def stream_output_mode(self) -> str:
        """Output mode a streaming sink must use for the last compiled
        relation: ``complete`` once a stateful aggregation (streaming
        ``exact_dedup``) is in the plan, else ``append``.  Meaningful
        only after ``dataframe()``/``run()`` on a ``stream: true``
        pipeline."""
        return getattr(self, "_stream_output_mode", "append")

    def _compile(self, *, execute_writes: bool) -> tuple[DataFrame, list[WriteResult]]:
        spark = self.spark or SparkSession.active()
        self.steps = [_normalize_step(s) for s in self.steps]
        df: DataFrame | None = None
        has_err = False  # becomes True once a step can emit err records
        writes: list[WriteResult] = []
        # Context/steps history (reference src/lib.rs:304-340): a `_steps`
        # struct column accumulates each named step's record so later
        # templates can reference `steps.<name>.<field>`.  Only built when
        # some template actually references it (width costs at scale).
        self._keep_history = any(
            "steps." in (a.get("pattern") or "")
            for s in self.steps
            for a in s.get("actions", [])
        ) or any(
            "steps." in (r.get("pattern") or "")
            for s in self.steps
            for r in (s.get("rules") or {}).values()
        )
        self._erased_paths = set()
        self._erase_excluded = set()
        self._stream_output_mode = "append"
        self._stream_stateful_step = None
        for s in self.steps:
            if s.get("type") != "eraser":
                continue
            conn = s.get("connector", {})
            ctype = conn.get("type", "local")
            if ctype == "bucket" and conn.get("bucket"):
                from chewdata_spark.sources.bucket import bucket_url

                self._erased_paths.add(bucket_url(conn))
            elif ctype == "psql":
                from chewdata_spark.sources.jdbc import compile_psql

                kw = compile_psql(conn)
                self._erased_paths.add(f"{kw['url']}::{kw['table']}")
            elif conn.get("path"):
                self._erased_paths.add(conn["path"])
            # exclude_paths survive the erase (src/step/eraser.rs:12-21)
            self._erase_excluded.update(s.get("exclude_paths", []))
        for step in self.steps:
            kind = step.get("type")
            if kind == "reader":
                if df is not None and _PARAM_HOLE.search(json.dumps(step.get("connector", {}))):
                    df = self._read_parameterized(spark, step, df)
                else:
                    df = self._read(spark, step)
                df = self._record_history(df, step)
            elif kind == "generator":
                n = int(step.get("record_limit", step.get("size", 1)))
                if df is None:
                    df = generate(spark, n)
                else:
                    # duplication mode: each upstream record N times
                    from chewdata_spark.operators.generator import duplicate

                    df = duplicate(df, n)
            elif kind == "eraser":
                # local/bucket/psql erases fold into overwrite mode on the
                # matching writer; a curl eraser is a real DELETE call
                # (reference curl erase, curl.rs:1153)
                conn = step.get("connector", {})
                if conn.get("type") == "curl" and execute_writes:
                    from chewdata_spark.sources.http import compile_curl_options, http_erase

                    http_erase(compile_curl_options(conn, step.get("document", {})))
                continue
            elif kind in ("transformer", "validator", "writer", "curate"):
                if df is None:
                    raise ValueError(f"step {kind!r} has no upstream data")
                # each step transforms its own stream and passes the other
                # through; curation applies to the ok stream only (Err
                # records are routed, not curated).  Until some step can
                # emit Err records an ok step skips the split and union
                # (narrow plans; remove-actions really drop columns)
                data_type = "ok" if kind == "curate" else step.get("data_type", "ok")
                other = None
                if has_err or data_type != "ok":
                    df = with_error_col(df)
                    ok, err = ok_stream(df), err_stream(df)
                    df, other = (ok, err) if data_type == "ok" else (err, ok)
                df, can_err = self._apply(spark, step, df, writes, execute_writes)
                has_err = has_err or can_err
                if other is not None:
                    df = df.unionByName(other, allowMissingColumns=True)
            elif kind is None:
                raise ValueError(f"step missing 'type': {step}")
            else:
                raise ValueError(f"unsupported step type {kind!r}")
        if df is None:
            raise ValueError("pipeline produced no data (no reader/generator)")
        return df, writes

    def _apply(
        self, spark: SparkSession, step: dict, df: DataFrame,
        writes: list[WriteResult], execute_writes: bool,
    ) -> tuple[DataFrame, bool]:
        """Apply one transformer/validator/writer/curate step to the
        stream it acts on; returns the result and whether the step can
        emit Err records."""
        kind = step["type"]
        if kind == "transformer":
            out, can_err = self._transform(spark, step, df), _has_fallible_actions(step)
        elif kind == "validator":
            out, can_err = self._validate(spark, step, df), True
        elif kind == "curate":
            out, can_err = self._curate(step, df), False
        else:
            wr = self._write(step, df, execute=execute_writes)
            writes.append(wr)
            # an HTTP sink's failed sends carry _error → Err channel
            return (wr.rows_df, True) if wr.fmt == "http" else (df, False)
        return self._record_history(out, step), can_err

    def _record_history(self, df: DataFrame, step: dict) -> DataFrame:
        name = step.get("name")
        if not self._keep_history or not name:
            return df
        payload = F.struct(*[F.col(c) for c in df.columns if c not in ("_steps", "_error")])
        if "_steps" in df.columns:
            return df.withColumn("_steps", F.col("_steps").withField(name, payload))
        return df.withColumn("_steps", F.struct(payload.alias(name)))

    # -- steps ---------------------------------------------------------------

    def _read_parameterized(self, spark: SparkSession, step: dict, upstream: DataFrame) -> DataFrame:
        """Correlated read: a reader whose connector config references
        upstream record fields (reference ``connector.set_parameters``,
        src/step/reader.rs:137 — each received context renders the
        connector's mustache holes, fetches, and forwards the fetched
        records; the upstream record survives in the ``steps`` context).

        Scale strategy: the *distinct* parameter tuples are collected to
        the driver (bounded by ``parameter_fanout_limit``, default 64) and
        one read per tuple is unioned then joined back on the parameter
        columns — the partition-pruning shape: N small scans, a single
        join, no per-row driver work.  For curl with higher cardinality
        and an explicit ``document.schema``, the fetch instead runs
        distributed — one GET per upstream row on the executors
        (:func:`chewdata_spark.sources.http.http_fetch_per_row`).

        Err records pass through untouched (the reference reader only
        consumes its own data_type, reader.rs:131-136).
        """
        from functools import reduce

        conn = step.get("connector", {})
        doc = step.get("document", {})
        ctype = conn.get("type", "local")
        fields = sorted(set(_PARAM_HOLE.findall(json.dumps(conn))))
        limit = int(step.get("parameter_fanout_limit", conn.get("parameter_fanout_limit", 64)))
        has_err = "_error" in upstream.columns
        ok = ok_stream(upstream) if has_err else upstream
        carry = [c for c in ("_steps",) if c in ok.columns]
        key = _param_key(fields)

        try:
            fetched = self._fetch_fanout(spark, conn, doc, ok, fields, limit)
            if fetched is None:
                return upstream  # no ok contexts → nothing to fetch
            left = ok.select(*[F.col(f).alias(key[f]) for f in fields], *carry)
            cond = reduce(
                lambda a, b: a & b,
                [left[key[f]].eqNullSafe(fetched[f"__param_{key[f]}"]) for f in fields],
            )
            out = left.join(fetched, cond, "inner").drop(
                *[key[f] for f in fields], *[f"__param_{key[f]}" for f in fields]
            )
        except _FanoutOverflow:
            if not (ctype == "curl" and doc.get("schema")):
                raise ValueError(
                    f"parameterized reader has more than {limit} distinct parameter "
                    "tuples; raise parameter_fanout_limit, or (curl) set document.schema "
                    "to enable the distributed per-row fetch"
                ) from None
            out = self._curl_fetch_per_row(spark, conn, doc, ok, fields, carry)
        if has_err:
            out = with_error_col(out).unionByName(
                err_stream(upstream), allowMissingColumns=True
            )
        return out

    def _fetch_fanout(
        self, spark: SparkSession, conn: dict, doc: dict,
        upstream: DataFrame, fields: list[str], limit: int,
    ) -> DataFrame | None:
        """Distinct-parameter fan-out: one read per distinct upstream
        parameter tuple, unioned and tagged with ``__param_*`` join
        columns.  Returns None when the upstream has no rows; raises
        :class:`_FanoutOverflow` past ``limit`` distinct tuples."""
        from functools import reduce

        ctype = conn.get("type", "local")
        key = _param_key(fields)
        distinct = (
            upstream.select(*[F.col(f).alias(key[f]) for f in fields])
            .dropDuplicates()
            .limit(limit + 1)
            .collect()
        )
        if len(distinct) > limit:
            raise _FanoutOverflow(len(distinct))
        parts = []
        for row in distinct:
            rec = {f: row[key[f]] for f in fields}
            sub = {"connector": _render_input_holes(conn, rec, ctype), "document": doc}
            rdf = self._read(spark, sub)
            for f in fields:
                rdf = rdf.withColumn(f"__param_{key[f]}", F.lit(rec[f]))
            parts.append(rdf)
        if not parts:
            return None
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def _curl_fetch_per_row(
        self, spark: SparkSession, conn: dict, doc: dict,
        ok: DataFrame, fields: list[str], carry: list[str],
    ) -> DataFrame:
        """Distributed correlated HTTP fetch: render + GET per upstream row
        on the executors, then re-type the fetched records with the
        document schema.  The paginator degenerates to ``once`` — each
        rendered URL is fetched exactly once per upstream record."""
        from chewdata_spark.sources.http import compile_curl_options, http_fetch_per_row

        options = compile_curl_options(conn, doc)
        raw = http_fetch_per_row(ok, options, fields)
        rec = F.from_json("__rec", doc["schema"]).alias("__r")
        ctx = F.from_json("__ctx", ok.schema).alias("__c")
        parsed = raw.select(rec, ctx, "_error")
        cols = [F.col(f"__r.{name}").alias(name) for name in parsed.select("__r.*").columns]
        cols += [F.col(f"__c.{c}").alias(c) for c in carry]
        return parsed.select(*cols, "_error")

    def _variable_lookup_join(
        self, spark: SparkSession, df: DataFrame, cfg: dict, out_field: str, m: re.Match
    ) -> DataFrame:
        """Variable referential (src/step/referential.rs:86-125): the
        referential's connector config references the current record
        (``{{ input.* }}``), so each record's lookup runs against *its*
        re-fetched referential.  Compiles to a correlated join — the
        parameter columns join alongside the lookup key, so record A
        never matches rows fetched for record B's parameters.  Fetch
        cardinality is bounded by ``parameter_fanout_limit`` (the
        reference re-fetches per record with no cache; the distinct-tuple
        fan-out is the distributed equivalent)."""
        conn = cfg.get("connector", {})
        doc = cfg.get("document", {})
        fields = sorted(set(_PARAM_HOLE.findall(json.dumps(conn))))
        limit = int(cfg.get("parameter_fanout_limit", 64))
        key = _param_key(fields)
        try:
            fetched = self._fetch_fanout(spark, conn, doc, df, fields, limit)
        except _FanoutOverflow:
            raise ValueError(
                f"variable referential has more than {limit} distinct parameter "
                "tuples; raise parameter_fanout_limit on the referential config"
            ) from None
        _, ref_key, input_key, ref_value = m.groups()
        if fetched is None:
            return df.withColumn(out_field, F.lit(None).cast("string"))
        params = [f"__param_{key[f]}" for f in fields]
        ref_small = fetched.select(
            F.col(ref_key).alias("__k"), F.col(ref_value).alias("__v"), *params
        ).dropDuplicates(["__k", *params])
        cond = df[input_key] == ref_small["__k"]
        for f in fields:
            cond = cond & df[f].eqNullSafe(ref_small[f"__param_{key[f]}"])
        joined = df.join(F.broadcast(ref_small), cond, "left")
        return joined.withColumn(out_field, F.col("__v")).drop("__k", "__v", *params)

    def _read(self, spark: SparkSession, step: dict) -> DataFrame:
        """Connector dispatch + the optional reader-level ``where``
        clause — a SQL predicate applied at read time (any connector,
        incl. sub-configs: referentials, decontaminate benchmarks,
        streaming readers).  Declarative on purpose: Catalyst pushes
        the predicate into the parquet/JDBC scan, so a config that
        reads a slice never pays for the whole table — the config-
        surface form of predicate pushdown."""
        df = self._read_conn(spark, step)
        where = step.get("where")
        if where:
            df = df.filter(F.expr(where))
        return df

    def _read_conn(self, spark: SparkSession, step: dict) -> DataFrame:
        conn = step.get("connector", {})
        doc = step.get("document", {})
        ctype = conn.get("type", "local")
        if step.get("stream") or conn.get("stream"):
            # "stream": true on the reader step turns the WHOLE
            # pipeline into a Structured Streaming job: the same path
            # is consumed as a file-source stream (new files become
            # micro-batches), downstream steps compile onto the
            # unbounded relation, and writers run through foreachBatch
            # (availableNow).  The reference's execution model is
            # itself stream-shaped — async record channels between
            # steps (src/lib.rs:85-89) — so this is its semantics
            # expressed with real unbounded processing.
            if ctype != "local":
                raise ValueError(
                    "stream: true is supported on local file readers "
                    f"(parquet/json/csv/text); got connector {ctype!r}"
                )
            return self._read_stream(spark, step)
        if ctype == "in_memory":
            data = conn.get("data", conn.get("memory", "[]"))
            records = json.loads(data) if isinstance(data, str) else data
            if isinstance(records, dict):
                records = [records]
            jl = spark.sparkContext.parallelize([json.dumps(r) for r in records])
            return spark.read.json(jl)
        if ctype == "local":
            path, fmt, options = _document_target(conn["path"], doc)
            checksum = conn.get("checksum")
            if checksum:
                # reference verifies file digests before reading
                # (src/connector/local.rs:373-392)
                from chewdata_spark.functions.checksum import verify_file

                if not verify_file(
                    spark, path, checksum["value"], checksum.get("algo", "sha256")
                ):
                    raise ValueError(f"checksum mismatch for {path}")
            df = read_document(
                spark, path, fmt,
                entry_path=doc.get("entry_path"),
                options=options,
                resolve_types=bool(doc.get("resolve_types", False)),
            )
            if conn.get("cache"):
                # reference's in-process dataset cache (local.rs:108-131)
                df = df.cache()
            return df
        if ctype == "curl":
            from chewdata_spark.sources.http import compile_curl_options, register_http_source

            register_http_source(spark)
            reader = spark.read.format("http")
            for k, v in compile_curl_options(conn, doc).items():
                reader = reader.option(k, v)
            if doc.get("schema"):
                reader = reader.schema(doc["schema"])
            return reader.load()
        if ctype in ("bucket", "bucket_select"):
            from chewdata_spark.sources.bucket import read_bucket, read_bucket_select

            if ctype == "bucket_select" or conn.get("query"):
                return read_bucket_select(spark, conn, doc)
            return read_bucket(spark, conn, doc)
        if ctype == "psql":
            from chewdata_spark.sources.jdbc import compile_psql, read_jdbc

            kw = compile_psql(conn)
            return read_jdbc(spark, kw.pop("url"), **kw)
        if ctype == "mongodb":
            from chewdata_spark.sources.mongo import mongo_connector_options

            reader = spark.read.format("mongodb")
            for k, v in mongo_connector_options(conn).items():
                reader = reader.option(k, v)
            return reader.load()  # needs mongo-spark-connector on the cluster
        if ctype == "cli":
            from chewdata_spark.sources.cli import read_stdin

            return read_stdin(spark)
        raise ValueError(f"unsupported connector type {ctype!r}")

    def _read_stream(self, spark: SparkSession, step: dict) -> DataFrame:
        """File-source streaming reader for ``"stream": true`` steps.

        The schema comes from an explicit ``document.schema`` when
        given, else a one-time batch probe of the files already at the
        path (file streams require a declared schema — inference would
        race arriving files).  A directory path is watched as-is; a
        non-directory path gets a trailing glob (a single file needs a
        pattern) — but NOT a directory, because ``path*`` would also
        match sibling directories sharing the prefix (``/x/docs``
        silently ingesting ``/x/docs_old``)."""
        from chewdata_spark.streaming.ops import read_stream_directory

        doc = step.get("document", {})
        path, fmt, options = _document_target(step["connector"]["path"], doc)
        if fmt not in ("parquet", "json", "jsonl", "csv", "text"):
            raise ValueError(
                f"stream: true supports parquet/json/jsonl/csv/text; "
                f"got document type {fmt!r}"
            )
        schema = doc.get("schema") or read_document(
            spark, path, fmt, entry_path=doc.get("entry_path"), options=options
        ).schema
        if not (any(c in path for c in "*?[") or os.path.isdir(path)):
            path += "*"
        return read_stream_directory(spark, path, fmt, schema, options=options)

    def _transform(self, spark: SparkSession, step: dict, df: DataFrame) -> DataFrame:
        ref_cfgs = step.get("referentials") or {}
        # static referentials read once and cache (reference set_cache for
        # non-variable connectors, src/step/referential.rs:117-121);
        # variable ones ({{ input.* }} holes) resolve per lookup below
        refs = {
            alias: self._read(spark, cfg)
            for alias, cfg in ref_cfgs.items()
            if not _PARAM_HOLE.search(json.dumps(cfg.get("connector", {})))
        }
        actions: list[Action | dict] = []
        for a in step.get("actions", []):
            pattern = a.get("pattern")
            field = a.get("field", "/")
            hole = _single_hole(pattern) if pattern else None
            m = _LOOKUP.match(hole) if hole else None
            if m and m.group(1) in ref_cfgs:
                # flush pending actions first — the reference applies actions
                # in order (src/step/transformer.rs), so an earlier action
                # writing the same field must land before the lookup
                if actions:
                    df = apply_actions(df, actions)
                    actions = []
                alias = m.group(1)
                if alias in refs:
                    df = _lookup_join(df, refs[alias], field, m)
                else:
                    df = self._variable_lookup_join(spark, df, ref_cfgs[alias], field, m)
                continue
            if field == "/":
                # root action: an array result fans out to N records
                # (reference flatMap, src/step/transformer.rs:209-220)
                if actions:
                    df = apply_actions(df, actions)
                    actions = []
                df = _root_fanout(df, pattern)
                continue
            actions.append(Action(field, pattern, a.get("type", a.get("action", "merge"))))
        return apply_actions(df, actions, route_errors=True) if actions else df

    def _curate(self, step: dict, df: DataFrame) -> DataFrame:
        """Beyond-reference ``curate`` step: the training-data curation
        operators exposed in the reference's JSON step language (the
        reference has no dedup/quality operators at all — SURVEY §2),
        so a config-driven chewdata user can run corpus curation with
        zero code:

            {"type": "curate", "method": "minhash_dedup",
             "key": "doc_id", "field": "text", "threshold": 0.5}

        The methods, with their options, key need and streaming
        capability, are the entries of ``_CURATE_METHODS``; the flagship
        is ``sa_pipeline`` (Lee et al. 2022: tiled-SA whole-repeat cut,
        optional benchmark decontamination, per-stratum quota, at char /
        token / BPE grain).  Every method is the same operator the query
        registry exposes; determinism rules (md5 coins, min-key
        survivors) carry over unchanged.
        """
        method = step.get("method")
        key = step.get("key")
        field = step.get("field", "text")
        if method not in _CURATE_METHODS:
            raise ValueError(f"unsupported curate method {method!r}")
        spec = _CURATE_METHODS[method]
        # a silently ignored typo (a misspelled threshold runs with the
        # default and reports success) fails loudly instead;
        # underscore-prefixed keys pass (the "_comment" JSON idiom)
        unknown = {
            k for k in set(step) - spec.options - _CURATE_COMMON if not k.startswith("_")
        }
        if unknown:
            raise ValueError(
                f"curate.{method}: unknown option(s) {sorted(unknown)}; "
                f"known: {sorted(spec.options)}"
            )
        if spec.needs_key and not key:
            raise ValueError(f"curate.{method} needs 'key'")
        if df.isStreaming and not spec.streams:
            raise ValueError(
                f"curate.{method} is not stream-capable; methods usable "
                f"under a 'stream: true' reader: "
                f"{sorted(m for m, sp in _CURATE_METHODS.items() if sp.streams)}"
            )
        # the hot-bucket cap of minhash_dedup and sa_pipeline; null
        # disables it for corpora where keeping a hot bucket's
        # duplicates is wrong
        max_bucket = step.get("max_bucket", 10_000)
        if max_bucket is not None:
            max_bucket = int(max_bucket)
        if method == "exact_dedup":
            # one survivor per content signature: the row with the
            # smallest non-NULL key (NULL keys order last, so a group of
            # NULL keys keeps one of its rows whole).  min_by commutes,
            # so a streaming run (one stateful aggregation, complete
            # output mode, one state row per signature) matches the
            # batch result whatever the micro-batch order, up to ties
            # between equal keys.
            if df.isStreaming:
                self._claim_stream_stateful("exact_dedup")
            fields = step.get("fields") or [field]
            sig = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in fields]))
            order = F.struct(F.col(key).isNull(), F.col(key))
            return (
                df.groupBy(sig.alias("_cur_sig"))
                .agg(F.min_by(F.struct(*df.columns), order).alias("_row"))
                .select("_row.*")
            )
        if method == "ingest_dedup":
            # Incremental-ingest dedup: drop arriving records whose
            # content signature already exists in a SEEN corpus read
            # by its own reader sub-config — ONE code path for batch
            # and streaming, because an anti-join against a static
            # side is stateless in Structured Streaming (the
            # registry's `stream_ingest_dedup` shape).  Unlike the
            # complete-mode exact_dedup, this keeps append output
            # mode: the dedup state lives in the seen corpus ON DISK,
            # not in the stream — the resident-service form (write
            # survivors back to the corpus; the next invocation's
            # seen side includes them).
            seen_cfg = step.get("seen")
            if not seen_cfg:
                raise ValueError(
                    "curate.ingest_dedup needs a 'seen' reader config "
                    "(the corpus whose content must not repeat)"
                )
            fields = step.get("fields") or [field]
            seen_fields = step.get("seen_fields") or fields
            seen = self._read(df.sparkSession, _normalize_step(
                {**seen_cfg, "type": "reader"}
            ))

            def _sig(cols_: list):
                return F.md5(F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in cols_]
                ))

            seen_sigs = seen.select(
                _sig(seen_fields).alias("_ing_sig")
            ).distinct()
            return (
                df.withColumn("_ing_sig", _sig(fields))
                .join(seen_sigs, "_ing_sig", "left_anti")
                .drop("_ing_sig")
            )
        if method == "minhash_dedup":
            from chewdata_spark.operators.dedup import (
                minhash_candidate_pairs,
                minhash_signatures_portable,
            )
            from chewdata_spark.operators.graph import cluster_dedup

            thr = float(step.get("threshold", 0.5))
            # hot-bucket cap: candidate buckets larger than max_bucket
            # are dropped (boilerplate protection; their duplicates are
            # RETAINED in the cleaned output)
            sigs = minhash_signatures_portable(df, key, field, num_perm=32)
            pairs = minhash_candidate_pairs(
                sigs,
                num_perm=32,
                bands=16,
                jaccard_threshold=thr,
                max_bucket=max_bucket,
            )
            return cluster_dedup(df, pairs, key)
        if method == "quality_filter":
            from chewdata_spark.operators.text import _quality_expr

            return df.filter(
                _quality_expr(field) >= float(step.get("min_quality", 0.5))
            )
        if method == "language_filter":
            from chewdata_spark.operators.text import _lang_pred_expr

            return df.filter(_lang_pred_expr(field) == step.get("lang", "en"))
        if method == "gopher_filter":
            from chewdata_spark.operators.text import (
                gopher_passed_expr,
                gopher_quality_gate,
            )

            if df.isStreaming:
                # the gate relation derives from df itself, so the
                # batch semi-join would be a stream-stream self-join;
                # the per-row predicate (same rounded metric exprs)
                # needs no state at all
                return df.filter(gopher_passed_expr(field))
            gate = gopher_quality_gate(df, key, field)
            passing = gate.filter(F.col("passed")).select(
                F.col("doc_id").alias(key)
            )
            return df.join(passing, key, "left_semi")
        if method == "classifier_filter":
            from chewdata_spark.operators.curation import (
                hashed_classifier_score,
                synthetic_classifier_weights,
            )

            dim = int(step.get("dim", 256))
            w_cfg = step.get("weights")
            if w_cfg:
                # trained weights arrive as a table (dim, w) via any reader
                weights = self._read(
                    df.sparkSession, _normalize_step({**w_cfg, "type": "reader"})
                ).select(F.col("dim").cast("int"), F.col("w").cast("double"))
            else:
                weights = synthetic_classifier_weights(
                    df.sparkSession, dim=dim, salt=str(step.get("salt", "qw"))
                )
            if df.isStreaming:
                # per-row fold with the weight table inlined as a
                # literal map (bounded by dim, broadcast-scale): the
                # relational path's explode + per-doc aggregation +
                # join-back is a stream-stream self-join
                from chewdata_spark.operators.curation import (
                    classifier_score_expr,
                )

                wmap = {
                    int(r["dim"]): float(r["w"]) for r in weights.collect()
                }
                return df.filter(
                    classifier_score_expr(field, wmap, dim)
                    >= float(step.get("min_score", 0.5))
                )
            scores = hashed_classifier_score(df, key, field, weights, dim=dim)
            kept = scores.filter(
                F.col("clf_score") >= float(step.get("min_score", 0.5))
            ).select(F.col("doc_id").alias(key))
            return df.join(kept, key, "left_semi")
        if method == "dsir_select":
            from chewdata_spark.operators.curation import dsir_log_ratio

            tgt_field = step.get("target_field", "lang")
            tgt_value = step.get("target_value", "en")
            scored = dsir_log_ratio(
                df,
                key,
                field,
                F.col(tgt_field) == tgt_value,
                dim=int(step.get("dim", 4096)),
            )
            if "top_frac" in step:
                # the actual DSIR recipe keeps the most target-like
                # slice of the corpus — an absolute threshold is only
                # meaningful when the target vocabulary is distinctive
                frac = float(step["top_frac"])
                thr = scored.agg(
                    F.percentile("log_importance", F.lit(1.0 - frac)).alias("_t")
                )
                kept = (
                    scored.crossJoin(F.broadcast(thr))
                    .filter(F.col("log_importance") >= F.col("_t"))
                    .select(F.col("doc_id").alias(key))
                )
            else:
                kept = scored.filter(
                    F.col("log_importance")
                    >= float(step.get("min_log_importance", 0.0))
                ).select(F.col("doc_id").alias(key))
            return df.join(kept, key, "left_semi")
        if method == "logprob_filter":
            from chewdata_spark.operators.curation import filter_by_logprob

            kept = filter_by_logprob(
                df, key, field, drop_frac=float(step.get("drop_frac", 0.1))
            ).select(F.col("doc_id").alias(key))
            return df.join(kept, key, "left_semi")
        if method == "sa_pipeline":
            # the Lee et al. 2022 flagship as a CONFIG STEP: normalize
            # -> corpus-global line dedup -> tiled-SA whole-repeat cut
            # [-> benchmark decontamination when benchmark_filter is
            # given] -> optional per-stratum quota.  Same core as the
            # curate_pipeline_full_sa / _decontam_sa / _decontam_sa_bpe
            # registry queries (operators/curation.py::sa_curate_corpus),
            # so the flagship oracles value-check this config surface:
            #
            #   {"type": "curate", "method": "sa_pipeline",
            #    "key": "doc_id", "field": "text",
            #    "benchmark_filter": "doc_id % 2 = 0",
            #    "grain": "char", "tile": 128, "min_len": 30,
            #    "quota": {"strata": "source", "max_per_stratum": 15}}
            from chewdata_spark.operators.curation import sa_curate_corpus
            from chewdata_spark.operators.suffix import _GRAINS

            q_known = {"strata", "max_per_stratum"}
            q_raw = step.get("quota")
            if q_raw is not None and not isinstance(q_raw, dict):
                # a string like "quota": "source" would otherwise
                # set()-iterate into characters and produce a
                # confusing unknown-option list of single letters
                raise ValueError(
                    "curate.sa_pipeline quota must be an object, e.g. "
                    '{"strata": "source", "max_per_stratum": 15}; got '
                    f"{type(q_raw).__name__}"
                )
            q_unknown = set(q_raw or {}) - q_known
            if q_unknown:
                raise ValueError(
                    f"curate.sa_pipeline quota: unknown option(s) "
                    f"{sorted(q_unknown)}; known: {sorted(q_known)}"
                )
            bf = step.get("benchmark_filter")
            if bf:
                # NULL-safe slicing: a row where the predicate is NULL
                # (e.g. "source = 'eval'" on a NULL source) must land
                # in the TRAINING slice, not silently vanish from both
                # (SQL tri-valued logic drops NULL from filter AND its
                # negation)
                is_bench = F.coalesce(F.expr(bf), F.lit(False))
                train = df.filter(~is_bench)
                bench = df.filter(is_bench)
            else:
                train, bench = df, None
            carry = step.get("carry")
            if carry is None:
                carry = [
                    c for c in df.columns
                    if c not in (key, field, "_error", "_steps")
                ]
            quota = step.get("quota") or {}
            grain = step.get("grain", "char")
            # grain-aware defaults: the unit of min_len/tile/bucket
            # changes with the grain, so so do the family conventions
            # (char: Lee et al. 30-char / 128-tile / 8-char bucket;
            # token: 5-token / 64 / 2; bpe: 9-piece / 64 / 4) — each
            # grain's adapter holds them; an unknown grain falls back
            # to char's and sa_curate_corpus rejects it
            d_min, d_tile, d_bucket, d_cmp = _GRAINS.get(
                grain, _GRAINS["char"]
            ).defaults
            return sa_curate_corpus(
                train, key, field,
                benchmark=bench,
                grain=grain,
                tile=int(step.get("tile", d_tile)),
                min_len=int(step.get("min_len", d_min)),
                compare_cap=int(step.get("compare_cap", d_cmp)),
                bucket_len=int(step.get("bucket_len", d_bucket)),
                max_bucket=max_bucket,
                bpe_iters=int(step.get("bpe_iters", 64)),
                quota_col=quota.get("strata"),
                max_per_stratum=int(quota.get("max_per_stratum", 15)),
                carry=carry,
            )
        if method == "sample":
            from chewdata_spark.operators.curation import stratified_sample

            return stratified_sample(
                df,
                step.get("strata", "source"),
                {k: float(v) for k, v in (step.get("rates") or {}).items()},
                key,
                default_rate=float(step.get("default_rate", 1.0)),
            )
        if method == "mix":
            # epoch-weighted upsampling (the half of a pretraining data
            # mix `sample` can't express — weights > 1 emit extra
            # copies with an `epoch` column).  A generate+filter
            # projection with md5 coins: zero shuffle, zero state, so
            # it is stream-capable like the other hash-coin methods.
            from chewdata_spark.operators.curation import weighted_mix

            weights = step.get("weights") or {}
            if not isinstance(weights, dict):
                raise ValueError(
                    "curate.mix weights must be an object of "
                    '{stratum: weight}, e.g. {"en": 2.5, "zh": 0.5}; '
                    f"got {type(weights).__name__}"
                )
            return weighted_mix(
                df,
                step.get("strata", "source"),
                {k: float(v) for k, v in weights.items()},
                key,
                default_weight=float(step.get("default_weight", 1.0)),
            )
        if method == "pack":
            # GPT-style concat-and-chunk packing manifest: each record
            # gains its global token offset + first/last sequence index
            # under `seq_len`-token sequences (whitespace token counts
            # over `field`) — the same distributed-prefix-sum operator
            # as the pack_sequences registry query
            from chewdata_spark.operators.curation import pack_sequences

            n_tokens = F.size(
                F.split(F.trim(F.lower(F.col(field))), r"\s+")
            )
            # drop the manifest's derived n_tokens: a token-annotated
            # input corpus may already carry that column, and the join
            # would produce a duplicate/ambiguous name downstream
            manifest = pack_sequences(
                df, key, n_tokens, seq_len=int(step.get("seq_len", 512))
            ).withColumnRenamed("doc_id", key).drop("n_tokens")
            return df.join(manifest, key)
        if method == "shard_shuffle":
            # deterministic training-order shuffle: md5-placed shard +
            # in-shard position, bit-reproducible, no global sort
            from chewdata_spark.operators.curation import shard_shuffle

            return shard_shuffle(
                df, key,
                num_shards=int(step.get("num_shards", 16)),
                seed=str(step.get("seed", "0")),
            )
        if method == "quota":
            # standalone anti-domination cap (the sa_pipeline's final
            # stage as its own step): first N rows per stratum in
            # deterministic md5 order
            from chewdata_spark.operators.curation import stratum_quota

            return stratum_quota(
                df,
                step.get("strata", "source"),
                key,
                max_per_stratum=int(step.get("max_per_stratum", 1000)),
                seed=str(step.get("seed", "0")),
            )
        if method == "split":
            from chewdata_spark.operators.curation import train_val_test_split

            return train_val_test_split(
                df,
                key,
                val_frac=float(step.get("val", 0.025)),
                test_frac=float(step.get("test", 0.025)),
            )
        if method in ("lines_dedup", "span_cut"):
            from chewdata_spark.operators import dedup as D

            if method == "lines_dedup":
                cleaned = D.dedup_lines_global(
                    df.select(key, field),
                    key,
                    field,
                    min_words=int(step.get("min_words", 5)),
                )
            else:
                cleaned = D.cut_duplicate_spans(
                    df.select(key, field), key, field, k=int(step.get("k", 8))
                )
            repl = cleaned.select(
                F.col("doc_id").alias(key), F.col("clean_text").alias("__clean")
            )
            # LEFT join + coalesce: a NULL/empty text produces no rows in
            # the rewrite operator — the record must keep its original
            # value, not vanish through an inner join
            return (
                df.join(repl, key, "left")
                .withColumn(field, F.coalesce(F.col("__clean"), F.col(field)))
                .drop("__clean")
            )
        if method == "decontaminate":
            from chewdata_spark.operators.curation import decontaminate

            bench_cfg = step.get("benchmark")
            if not bench_cfg:
                raise ValueError(
                    "curate.decontaminate needs a 'benchmark' reader config"
                )
            # spread first, force type last: a stray `type` key inside
            # the benchmark config must not silently turn the step into
            # something other than a reader
            bench = self._read(df.sparkSession, _normalize_step(
                {**bench_cfg, "type": "reader"}
            ))
            bench_field = step.get("benchmark_field", field)
            if df.isStreaming:
                return self._decontaminate_stream(
                    df, step, key, field, bench, bench_field
                )
            hits = decontaminate(
                df.select(F.col(key), F.col(field)),
                bench.select(F.col(key).alias(key) if key in bench.columns
                             else F.monotonically_increasing_id().alias(key),
                             F.col(bench_field).alias(field)),
                key,
                field,
                n=int(step.get("n", 4)),
            )
            flagged = hits.filter(
                F.col("n_hit_grams") >= int(step.get("min_hits", 1))
            ).select(F.col("doc_id").alias(key))
            return df.join(flagged, key, "left_anti")

    def _claim_stream_stateful(self, method: str) -> None:
        """Spark supports ONE streaming aggregation per query: a second
        stateful curate step would die at stream start with an opaque
        'Multiple streaming aggregations are not supported' analysis
        error, so the config surface rejects the combination at compile
        time with the two step names.  Stateless filter steps compose
        freely before or after the single stateful one."""
        prior = self._stream_stateful_step
        if prior is not None:
            raise ValueError(
                f"curate.{method}: a streaming pipeline supports only "
                f"ONE stateful curate step and curate.{prior} already "
                "holds it (Spark allows a single streaming "
                "aggregation); split into two pipelines — write the "
                "first result with a streaming writer and stream the "
                "second pipeline from its output"
            )
        self._stream_stateful_step = method
        self._stream_output_mode = "complete"

    def _decontaminate_stream(
        self,
        df: DataFrame,
        step: dict,
        key: str,
        field: str,
        bench: DataFrame,
        bench_field: str,
    ) -> DataFrame:
        """Streaming form of ``curate.decontaminate`` with the SAME
        keep/drop decision as the batch path, independent of
        micro-batch arrival order.

        The batch shape (gram explode -> broadcast benchmark semi-join
        -> per-doc hit count -> LEFT ANTI join back) cannot stream: the
        anti-join's flagged side derives from the stream itself — a
        stream-stream self-join.  Instead everything folds into ONE
        complete-mode streaming aggregation (the same device the
        streaming ``exact_dedup`` uses): each row carries its full
        struct through a gram explode (:func:`_word_ngrams` — the
        documented per-row twin of the batch path's ``gram_rows``, same
        trim+lower tokens / short-doc whole-text gram), stream-static
        LEFT-joins the broadcast benchmark gram keys (eval data — MBs,
        not TBs, exactly the batch operator's broadcast contract), and
        a ``groupBy(key)`` counts hits while ``min(struct)`` carries
        the row — rows below ``min_hits`` re-emit.  State is one row
        per document, arrival-order-free by commutativity of min/sum.

        Contract: ``key`` must uniquely identify rows (it is the doc
        id everywhere in this surface); duplicate keys collapse to the
        lexicographically-least row, where batch would keep every copy.
        """
        from chewdata_spark.operators.curation import _word_ngrams

        self._claim_stream_stateful("decontaminate")
        bench_grams = (
            bench.select(
                F.explode(_word_ngrams(bench_field, int(step.get("n", 4))))
                .alias("g")
            )
            .select(F.md5("g").alias("_ctm_gram"))
            .distinct()
            .withColumn("_ctm_hit", F.lit(1))
            # one eager materialization at compile: the static side of
            # a stream-static join is re-planned EVERY micro-batch, so
            # without this the benchmark re-reads + re-distincts per
            # trigger.  Safe to copy wholesale because the benchmark is
            # eval-sized by the operator's contract (MBs, not TBs) —
            # the corpus-scale static side of ingest_dedup deliberately
            # does NOT do this (re-scanning pruned parquet per batch is
            # the scalable choice there).
            .localCheckpoint(eager=True)
        )
        grams = F.array_distinct(
            F.transform(
                _word_ngrams(field, int(step.get("n", 4))),
                lambda g: F.md5(g),
            )
        )
        cols = df.columns
        exploded = df.select(
            F.struct(*cols).alias("_ctm_row"),
            F.explode_outer(grams).alias("_ctm_gram"),
        )
        return (
            exploded.join(F.broadcast(bench_grams), "_ctm_gram", "left")
            .groupBy(F.col(f"_ctm_row.{key}").alias("_ctm_key"))
            .agg(
                F.min("_ctm_row").alias("_ctm_row"),
                F.sum(F.coalesce(F.col("_ctm_hit"), F.lit(0))).alias(
                    "_ctm_hits"
                ),
            )
            .filter(F.col("_ctm_hits") < int(step.get("min_hits", 1)))
            .select("_ctm_row.*")
        )

    def _validate(self, spark: SparkSession, step: dict, df: DataFrame) -> DataFrame:
        refs_cfg = step.get("referentials") or {}
        rules: list[Rule] = []
        exists_cols: list[str] = []
        for name, cfg in (step.get("rules") or {}).items():
            pattern = cfg["pattern"]
            m = _EXISTS_RULE.search(pattern) if refs_cfg else None
            if m and m.group(1) in refs_cfg:
                # the "exists in referential" idiom (validator.rs:66:
                # `ref | filter(attribute=k, value=input.x) | length > 0`)
                # → broadcast key join, boolean column.  The exists
                # sub-expression is spliced back into the pattern so a
                # compound condition (`input.x > 0 and ref|...|length > 0`)
                # keeps its other terms.
                alias, ref_key, input_key = m.group(1), m.group(2), m.group(3)
                colname = f"__exists_{alias}_{ref_key}_{input_key}".replace(".", "_")
                if colname not in exists_cols:
                    keys = (
                        self._read(spark, refs_cfg[alias])
                        .select(F.col(ref_key).alias("__k"))
                        .dropDuplicates()
                    )
                    df = (
                        df.join(F.broadcast(keys), df[input_key] == F.col("__k"), "left")
                        .withColumn(colname, F.col("__k").isNotNull())
                        .drop("__k")
                    )
                    exists_cols.append(colname)
                spliced = pattern[: m.start()] + f"input.{colname}" + pattern[m.end() :]
                rules.append(Rule(name, spliced, cfg.get("message")))
            else:
                rules.append(Rule(name, pattern, cfg.get("message")))
        sep = step.get("error_separator", DEFAULT_SEPARATOR)
        return apply_rules(df, rules, error_separator=sep).drop(*exists_cols)

    def _write(self, step: dict, df: DataFrame, *, execute: bool) -> WriteResult:
        conn = step.get("connector", {})
        doc = step.get("document", {})
        ctype = conn.get("type", "local")
        if ctype == "curl":
            # HTTP sink: batched send; failed batches route to the Err
            # channel (reference writer semantics, tests/writer.rs:87-132)
            from chewdata_spark.sources.http import compile_curl_options, http_send

            out = df.drop("_steps")
            url = conn["endpoint"].rstrip("/") + "/" + conn["path"].lstrip("/")
            if not execute:
                # dry-run: never embed the send transform — any downstream
                # action on the preview DataFrame would fire real POSTs
                preview = out.drop("_error").withColumn("_error", F.lit(None).cast("string"))
                return WriteResult(url, "http", preview)
            # localCheckpoint truncates lineage: even cache eviction can't
            # re-trigger the send transform on downstream reuse
            sent = http_send(out, compile_curl_options(conn, doc)).localCheckpoint(eager=True)
            return WriteResult(url, "http", sent)
        if ctype == "psql":
            from chewdata_spark.sources.jdbc import compile_psql, write_jdbc

            kw = compile_psql(conn)
            out = df.drop("_steps", "_error")
            # a psql eraser folds into overwrite (JDBC truncate-and-load)
            mode = "overwrite" if f"{kw['url']}::{kw['table']}" in self._erased_paths else "append"
            if execute:
                write_jdbc(out, kw["url"], kw["table"], mode=mode, properties=kw["properties"])
            return WriteResult(kw["url"], "jdbc", out)
        if ctype == "bucket":
            from chewdata_spark.sources.bucket import bucket_url, write_bucket

            out = df.drop("_steps", "_error")
            url = bucket_url(conn)
            mode = "overwrite" if url in self._erased_paths else "append"
            if execute:
                write_bucket(out, conn, doc, mode=mode)
            return WriteResult(url, doc.get("type", "parquet"), out)
        if ctype == "cli":
            from chewdata_spark.sources.cli import write_stdout

            out = df.drop("_steps", "_error")
            if execute:
                write_stdout(out, limit=int(conn["limit"]) if conn.get("limit") else None)
            return WriteResult("stdout", "cli", out)
        raw_path, fmt, options = _document_target(conn["path"], doc)
        partition_cols = _MUSTACHE_PATH.findall(raw_path)
        # strip the file-name component: Spark writes directories
        path = re.sub(r"[^/]*\{\{.*$", "", raw_path) if partition_cols else raw_path
        path = _MUSTACHE_PATH.sub("", path).rstrip("_-")
        erased = (raw_path in self._erased_paths or path in self._erased_paths) and not any(
            raw_path.startswith(x) or path.startswith(x) for x in self._erase_excluded
        )
        mode = "overwrite" if erased else "append"
        out = df.drop("_error") if "_error" in df.columns and _all_null_errors_ok(step) else df
        out = out.drop("_steps")  # context history is pipeline-internal
        single = bool(conn.get("single_file") or doc.get("single_file"))
        if df.isStreaming:
            if single or step.get("zorder_by"):
                raise ValueError(
                    "single_file / zorder_by writers are batch-only; "
                    "remove them or drop 'stream: true' from the reader"
                )
            if execute:
                self._write_stream_local(
                    out, path, fmt, options, mode, partition_cols,
                    checkpoint=step.get("checkpoint"),
                )
            return WriteResult(path, fmt, out)
        if execute:
            if single and not partition_cols:
                # reference single-file semantics (can_append splice,
                # src/document/mod.rs:181-205): truncate-then-write when
                # erased, envelope-splice append otherwise
                from chewdata_spark.sources.documents import (
                    _hadoop_fs,
                    append_single_file,
                )

                if erased:
                    _, fs, dest = _hadoop_fs(out.sparkSession, path)
                    if fs.exists(dest):
                        fs.delete(dest, False)
                append_single_file(out, path, fmt, options=options)
            else:
                zcols = step.get("zorder_by")
                towrite = out
                if zcols:
                    # data-layout knob (beyond-reference; Delta/Iceberg
                    # OPTIMIZE ZORDER BY semantics): cluster the output
                    # files so every listed dimension min/max-prunes
                    from chewdata_spark.operators.layout import zorder_frame

                    towrite = zorder_frame(
                        out, list(zcols), num_files=int(step.get("zorder_files", 64))
                    )
                write_document(
                    towrite,
                    path,
                    fmt,
                    mode=mode,
                    partition_by=partition_cols or None,
                    options=options,
                )
        return WriteResult(path, fmt, out)

    def _write_stream_local(
        self,
        out: DataFrame,
        path: str,
        fmt: str,
        options: dict[str, str],
        mode: str,
        partition_cols: list[str],
        *,
        checkpoint: str | None = None,
    ) -> None:
        """Streaming writer: every micro-batch goes through the SAME
        batch ``write_document`` via foreachBatch, so all 11 document
        formats work unchanged on a stream.  availableNow trigger —
        the run drains the currently-available files and stops, which
        is what a config-driven pipeline invocation means (a resident
        service would pass a durable ``checkpoint`` and re-invoke; the
        checkpoint makes re-runs pick up only NEW files).

        Complete output mode (streaming exact_dedup upstream) re-emits
        the full result each trigger, so each batch overwrites;
        append mode writes batch 0 with the configured mode (overwrite
        when an eraser folded in) and appends after.  An unnamed
        checkpoint is a temporary directory removed once the drain
        ends."""
        import shutil
        import tempfile

        from chewdata_spark.streaming.ops import run_foreach_batch

        complete = self.stream_output_mode == "complete"

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            m = (
                "overwrite"
                if complete or (batch_id == 0 and mode == "overwrite")
                else "append"
            )
            write_document(
                batch_df, path, fmt, mode=m,
                partition_by=partition_cols or None, options=options,
            )

        temp_ckpt = None if checkpoint else tempfile.mkdtemp(prefix="cdsp_stream_ckpt_")
        try:
            run_foreach_batch(
                out,
                fn,
                checkpoint=checkpoint or temp_ckpt,
                output_mode=self.stream_output_mode,
            )
        finally:
            if temp_ckpt:
                shutil.rmtree(temp_ckpt, ignore_errors=True)


# reference step-type aliases (src/step/mod.rs:27-54)
_STEP_ALIASES = {
    "r": "reader", "read": "reader",
    "w": "writer", "write": "writer",
    "t": "transformer", "transform": "transformer",
    "e": "eraser", "erase": "eraser", "truncate": "eraser",
    "v": "validator", "validate": "validator",
    "g": "generator",
}


# reference serde aliases, step-key level (reader.rs:60-68, writer.rs:72-81,
# eraser.rs:55-61, transformer.rs:102-105, validator.rs:120-129,
# generator.rs:88-93)
_STEP_KEY_ALIASES = {
    "conn": "connector",
    "doc": "document",
    "alias": "name",
    "data": "data_type",
    "refs": "referentials",
    "batch": "record_limit",
    "size": "record_limit",
    "exclude": "exclude_paths",
    "separator": "error_separator",
    "u": "updater",
}
# connector-type aliases (connector/mod.rs:47-70)
_CONNECTOR_TYPE_ALIASES = {"mem": "in_memory", "mongo": "mongodb", "pgsql": "psql", "pg": "psql"}
# document-type aliases (document/mod.rs:46-52)
_DOC_TYPE_ALIASES = {"yml": "yaml", "txt": "text"}


def _normalize_step(step: dict) -> dict:
    """Resolve the reference's serde aliases (step types, step keys,
    connector/document type names) and default connectors: a
    reader/writer with no connector is the cli (stdin/stdout) connector,
    exactly like the reference's `{"type":"r"},{"type":"w"}` default
    pipeline."""
    kind = step.get("type")
    if kind in _STEP_ALIASES:
        step = {**step, "type": _STEP_ALIASES[kind]}
    for short, canon in _STEP_KEY_ALIASES.items():
        if short in step and canon not in step:
            step = {k if k != short else canon: v for k, v in step.items()}
    conn = step.get("connector")
    if isinstance(conn, dict) and conn.get("type") in _CONNECTOR_TYPE_ALIASES:
        step = {**step, "connector": {**conn, "type": _CONNECTOR_TYPE_ALIASES[conn["type"]]}}
    doc = step.get("document")
    if isinstance(doc, dict) and doc.get("type") in _DOC_TYPE_ALIASES:
        step = {**step, "document": {**doc, "type": _DOC_TYPE_ALIASES[doc["type"]]}}
    if step.get("type") in ("reader", "writer") and "connector" not in step:
        step = {**step, "connector": {"type": "cli"}}
    return step


def _guess_format(path: str) -> str:
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else "json"
    return {
        "yml": "yaml",
        "ndjson": "jsonl",
        "txt": "text",
        # substituted {{ metadata.mime_subtype }} extensions
        "x-ndjson": "jsonl",
        "x-yaml": "yaml",
        "octet-stream": "byte",
    }.get(ext, ext)


_METADATA_HOLE = re.compile(r"\{\{\s*metadata\.(\w+)\s*\}\}")


def _document_target(path: str, doc: dict) -> tuple[str, str, dict[str, str]]:
    """A step's document target: the path with its metadata holes
    resolved, the format (declared, else guessed from the path) and the
    Spark options (translated ``metadata``, then ``document.options``
    over them)."""
    from chewdata_spark.sources.documents import metadata_options

    path = _resolve_metadata_holes(path, doc.get("type", "json"))
    fmt = doc.get("type", _guess_format(path))
    return path, fmt, {**metadata_options(doc), **(doc.get("options") or {})}


def _resolve_metadata_holes(path: str, fmt: str) -> str:
    """`{{ metadata.mime_type }}` / `{{ metadata.mime_subtype }}` path
    holes resolve from the step's document metadata (the reference's
    dynamic-file idiom: `path: data.{{ metadata.mime_subtype }}` writes
    `data.json` for a json document) — resolved at compile time, BEFORE
    mustache fields become partition columns."""
    from chewdata_spark.sources.documents import MIME_TYPES

    def repl(m: re.Match) -> str:
        attr = m.group(1)
        mt, mst = MIME_TYPES.get(fmt, ("application", fmt))
        if attr == "mime_type":
            return mt
        if attr == "mime_subtype":
            return mst
        raise ValueError(f"unknown metadata attribute {attr!r} in path {path!r}")

    return _METADATA_HOLE.sub(repl, path)


def _single_hole(pattern: str) -> str | None:
    m = re.fullmatch(r"\s*\{\{(.+?)\}\}\s*", pattern, re.S)
    return m.group(1) if m else None


def _lookup_join(df: DataFrame, ref: DataFrame, out_field: str, m: re.Match) -> DataFrame:
    """Compile the referential lookup idiom to a broadcast left join."""
    _, ref_key, input_key, ref_value = m.groups()
    ref_small = (
        ref.select(F.col(ref_key).alias("__k"), F.col(ref_value).alias("__v"))
        .dropDuplicates(["__k"])
    )
    joined = df.join(F.broadcast(ref_small), df[input_key] == F.col("__k"), "left")
    return joined.withColumn(out_field, F.col("__v")).drop("__k", "__v")


_IDENTITY_BODY = re.compile(r"^\s*\{\{\s*input\s*\|\s*json_encode(\(\))?\s*\}\}\s*$")


def _root_fanout(df: DataFrame, pattern: str) -> DataFrame:
    """Root-field action: the rendered value REPLACES the record; an
    array fans out to one record per element (explode), a struct becomes
    the record, a scalar becomes a single `value` column.

    ``throw(message=...)`` branches err the record instead of replacing
    it (the examples/local-chaine.rs cascade: ok rows pass through when
    the other branch is the identity render ``{{ input | json_encode() }}``,
    throw rows carry the message on the err channel)."""
    from chewdata_spark.operators.transformer import (
        _IF_BLOCK,
        UnsupportedTemplate,
        compile_throw_error,
        template_to_column,
    )

    terr = compile_throw_error(pattern, input_col=None)
    if terr is not None:
        mb = _IF_BLOCK.match(pattern)
        if mb is not None:  # conditional throw: other branches must be identity
            bodies = [mb.group("then")] + [
                b
                for _, b in re.findall(
                    r"\{%\s*elif\s+(.+?)\s*%\}(.*?)(?=\{%\s*elif|\Z)",
                    mb.group("elifs") or "",
                    re.S,
                )
            ] + ([mb.group("els")] if mb.group("els") is not None else [])
            if not all("throw(" in b or _IDENTITY_BODY.match(b) for b in bodies):
                raise UnsupportedTemplate(
                    "root throw() composes only with identity branches "
                    "({{ input | json_encode() }}): " + pattern
                )
        prev = F.col("_error") if "_error" in df.columns else F.lit(None).cast("string")
        return df.withColumn("_error", F.coalesce(prev, terr))
    col = template_to_column(pattern, input_col=None)
    out = df.select(col.alias("_r"))
    t = out.schema["_r"].dataType.typeName()
    if t == "array":
        out = out.select(F.explode("_r").alias("_r"))
        t = out.schema["_r"].dataType.typeName()
    if t == "struct":
        return out.select("_r.*")
    return out.withColumnRenamed("_r", "value")


def _has_fallible_actions(step: dict) -> bool:
    from chewdata_spark.operators.transformer import fallible_refs

    return any(
        "throw(" in (a.get("pattern") or "")  # explicit err emission
        or fallible_refs(a.get("pattern")) is not None
        for a in step.get("actions", [])
    )


def _all_null_errors_ok(step: dict) -> bool:
    return step.get("data_type", "ok") == "ok"
