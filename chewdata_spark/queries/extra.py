"""Round-2 additions: skew-salted aggregation, lag windows, outer
banded range join, and the UDTF chunking surface — each with a DuckDB
oracle where SQL can express it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chewdata_spark.tables import load_table


def salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-salted aggregation — algebraically identical to a
    plain GROUP BY (the oracle proves it), but each hot key spreads
    over 16 reducers in phase 1.  The shape to use when one event_type
    dominates at 100 TB."""
    from chewdata_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    out = salted_sum_count(
        ev,
        ["event_type"],
        {"n": "count:*", "total_value": "sum:value", "max_value": "max:value"},
        num_salts=16,
    )
    return out.select(
        "event_type", "n", F.round("total_value", 2).alias("total_value"), "max_value"
    )


SALTED_EVENT_STATS_SQL = """
SELECT event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
"""


def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag window: seconds since the user's previous event.
    Shuffle key = user_id (high cardinality → even partitions)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # microsecond-exact gap: second-level truncation differs between
    # engines when fractional parts straddle a boundary
    return ev.select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev)).alias("gap_us"),
    )


USER_EVENT_GAPS_SQL = """
SELECT event_id, user_id,
       epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_us
FROM events
"""


def orders_near_price_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT banded range join: every part keeps its row even with no
    order priced within the band (exercises the outer-null-extension
    semantics of banded_range_join)."""
    from chewdata_spark.operators.rangejoin import banded_range_join

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_retailprice").alias("price")
    ).filter(F.col("pk") <= 200)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_totalprice").alias("total")
    ).filter(F.col("total") < 2000)
    joined = banded_range_join(
        part, orders, "price", "total", max_distance=50.0, how="left"
    )
    return joined.groupBy("pk").agg(
        F.count(F.col("ok")).alias("n_near"),
        F.round(F.min("total"), 2).alias("cheapest_near"),
    )


ORDERS_NEAR_PRICE_LEFT_SQL = """
SELECT p.p_partkey AS pk,
       COUNT(o.o_orderkey) AS n_near,
       ROUND(MIN(o.o_totalprice), 2) AS cheapest_near
FROM part p
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice < 2000) o
  ON ABS(p.p_retailprice - o.o_totalprice) <= 50.0
WHERE p.p_partkey <= 200
GROUP BY p.p_partkey
"""


def chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-callable chunking surface (LATERAL UDTF) — same output
    as the codegen chunk_documents query; the oracle reuses the
    chunking SQL semantics."""
    from chewdata_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_documents")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens "
        "FROM _udtf_documents d, LATERAL chunk_text(d.text, 50, 10) c "
        "WHERE d.doc_id < 100"
    )


CHUNK_UDTF_SQL = """
WITH d AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
    FROM documents WHERE doc_id < 100
), n AS (
    SELECT doc_id, w, GREATEST(CAST(CEIL((len(w) - 10) / 40.0) AS INT), 1) AS n_chunks
    FROM d
), ex AS (
    SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(w[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ') AS chunk_text,
       CAST(len(w[chunk_idx * 40 + 1 : chunk_idx * 40 + 50]) AS INT) AS n_tokens
FROM ex
"""


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    try_parse_json once, typed variant_get extraction — the modern
    (binary-encoded, pushdown-friendly) alternative to per-query
    get_json_object string parsing."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(try_parse_json(props), '$.k', 'int')")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


EVENTS_PROPS_VARIANT_SQL = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
FROM events
GROUP BY event_type
"""


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts computed BY STRUCTURED STREAMING (availableNow
    over the same parquet, complete-mode window aggregation, memory
    sink) and compared to the plain batch GROUP BY oracle — the
    streaming runtime is inside the correctness gate, not just pytest."""
    import os

    from pyspark.sql import functions as F

    from chewdata_spark.streaming.ops import run_to_memory

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # file streams need a directory basePath — a glob resolves it to sf_dir
    stream = spark.readStream.schema(schema).parquet(os.path.join(sf_dir, "events.parquet*"))
    # ts has shipped as nanos-as-long, TIMESTAMP, and TIMESTAMP_NTZ across
    # testdata generations — normalize all three to TIMESTAMP (UTC session).
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:
        ts = F.col("ts").cast("timestamp")
    agg = (
        stream.withColumn("ts_us", ts)
        .groupBy(F.window("ts_us", "1 hour"), "event_type")
        .count()
    )
    return run_to_memory(agg, "_stream_events_hourly", output_mode="complete").select(
        F.col("window.start").alias("hour_start"),
        "event_type",
        F.col("count").alias("n"),
    )


STREAM_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


def stream_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM join executed by Structured Streaming:
    view events join purchase events of the same user within the next
    hour (time-bound condition = bounded state, streaming/ops.py).
    availableNow over the same parquet + memory sink; inner-join
    matches emit deterministically regardless of micro-batching, so the
    batch SQL oracle checks the streaming runtime itself."""
    import os

    from chewdata_spark.streaming.ops import run_to_memory, stream_stream_join

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(os.path.join(sf_dir, "events.parquet*"))
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:
        ts = F.col("ts").cast("timestamp")
    stream = stream.withColumn("ts", ts)
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = stream_stream_join(
        views,
        purchases,
        "user_id",
        "view_ts",
        "purchase_ts",
        watermark="1 hour",
        time_bound="1 hour",
    ).filter(F.col("purchase_ts") >= F.col("view_ts"))
    return run_to_memory(
        joined.select(views["user_id"].alias("user_id"), "view_id", "purchase_id"),
        "_stream_view_to_purchase",
    )


STREAM_VIEW_TO_PURCHASE_SQL = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed BY STRUCTURED STREAMING: 30-minute-gap
    per-user sessions over the event file stream (session_window merges
    across micro-batches; complete mode + availableNow makes the final
    table equal to the batch gaps-and-islands answer, which the DuckDB
    oracle computes)."""
    import os

    from chewdata_spark.streaming.ops import run_to_memory

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(os.path.join(sf_dir, "events.parquet*"))
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:
        ts = F.col("ts").cast("timestamp")
    agg = (
        stream.withColumn("ts_n", ts)
        .groupBy(F.session_window("ts_n", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, "_stream_sessionize", output_mode="complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


STREAM_SESSIONIZE_SQL = """
WITH o AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sid
"""


QUERIES = {
    "salted_event_stats": salted_event_stats,
    "stream_view_to_purchase": stream_view_to_purchase,
    "stream_sessionize_events": stream_sessionize_events,
    "events_props_variant": events_props_variant,
    "stream_events_hourly": stream_events_hourly,
    "user_event_gaps": user_event_gaps,
    "orders_near_price_left": orders_near_price_left,
    "chunk_documents_udtf": chunk_documents_udtf,
}

ORACLES = {
    "salted_event_stats": SALTED_EVENT_STATS_SQL,
    "stream_view_to_purchase": STREAM_VIEW_TO_PURCHASE_SQL,
    "stream_sessionize_events": STREAM_SESSIONIZE_SQL,
    "events_props_variant": EVENTS_PROPS_VARIANT_SQL,
    "stream_events_hourly": STREAM_EVENTS_HOURLY_SQL,
    "user_event_gaps": USER_EVENT_GAPS_SQL,
    "orders_near_price_left": ORDERS_NEAR_PRICE_LEFT_SQL,
    "chunk_documents_udtf": CHUNK_UDTF_SQL,
}


def order_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): totals by
    (status, priority), by status alone, and grand total in one pass."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


ORDER_PRIORITY_GROUPING_SETS_SQL = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window: customers bucketed into spend quartiles.

    SCALE NOTE: the unpartitioned window is a deliberate pin — exact
    global ntile requires a total order (one reducer), applied here
    AFTER the per-customer aggregation so the windowed row count is
    |customers|, not |orders|.  Beyond ~10⁸ customers switch to
    approx_percentile thresholds + comparison bucketing (fully
    distributed, boundary ties differ)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
    return spend.select(
        F.col("o_custkey").alias("custkey"),
        "spend",
        F.ntile(4).over(w).alias("quartile"),
    )


CUSTOMER_SPEND_QUARTILES_SQL = """
WITH spend AS (
    SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey
)
SELECT custkey, spend,
       CAST(ntile(4) OVER (ORDER BY spend DESC, custkey ASC) AS INT) AS quartile
FROM spend
"""


def part_name_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex token explode + frequency (regexp_extract_all → explode →
    count): the text-mining shape over a relational column."""
    part = load_table(spark, sf_dir, "part")
    toks = part.select(
        F.explode(F.regexp_extract_all(F.col("p_name"), F.lit("[a-z]+"), 0)).alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))


PART_NAME_TOKENS_SQL = """
SELECT token, COUNT(*) AS n
FROM (
    SELECT unnest(regexp_extract_all(p_name, '[a-z]+')) AS token FROM part
)
GROUP BY token
"""

QUERIES.update({
    "order_priority_grouping_sets": order_priority_grouping_sets,
    "customer_spend_quartiles": customer_spend_quartiles,
    "part_name_tokens": part_name_tokens,
})
ORACLES.update({
    "order_priority_grouping_sets": ORDER_PRIORITY_GROUPING_SETS_SQL,
    "customer_spend_quartiles": CUSTOMER_SPEND_QUARTILES_SQL,
    "part_name_tokens": PART_NAME_TOKENS_SQL,
})


def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile of the corpus (null rate, exact
    distinct for oracle-comparability, min/max)."""
    from chewdata_spark.operators.profile import profile

    docs = load_table(spark, sf_dir, "documents")
    return profile(docs, ["lang", "source", "n_chars"], exact_distinct=True)


DOCUMENTS_PROFILE_SQL = """
WITH t AS (SELECT COUNT(*) AS total FROM documents)
SELECT 'lang' AS "column", COUNT(lang) AS n_nonnull,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_distinct,
       ROUND(1 - COUNT(lang) * 1.0 / (SELECT total FROM t), 4) AS null_rate,
       MIN(CAST(lang AS VARCHAR)) AS min_str, MAX(CAST(lang AS VARCHAR)) AS max_str
FROM documents
UNION ALL
SELECT 'source', COUNT(source), CAST(COUNT(DISTINCT source) AS BIGINT),
       ROUND(1 - COUNT(source) * 1.0 / (SELECT total FROM t), 4),
       MIN(CAST(source AS VARCHAR)), MAX(CAST(source AS VARCHAR))
FROM documents
UNION ALL
SELECT 'n_chars', COUNT(n_chars), CAST(COUNT(DISTINCT n_chars) AS BIGINT),
       ROUND(1 - COUNT(n_chars) * 1.0 / (SELECT total FROM t), 4),
       MIN(CAST(n_chars AS VARCHAR)), MAX(CAST(n_chars AS VARCHAR))
FROM documents
"""

QUERIES["documents_profile"] = documents_profile
ORACLES["documents_profile"] = DOCUMENTS_PROFILE_SQL


def media_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable exercise of the REAL image-decode kernel: each
    document synthesizes a binary P6 PPM whose dimensions are derived
    from its own columns, and the Arrow-batched decode stage
    (operators/multimodal.py::decode_image — the same mapInPandas
    `_media_stage` every production kernel shares) parses them back.
    The oracle re-derives (width, height) independently from the
    document columns, so a header-parser or batching bug fails the
    value hash, not just a unit test."""
    from chewdata_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    w = (F.col("n_chars") % 64 + 1).cast("int")
    h = (F.col("doc_id") % 32 + 1).cast("int")
    header = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
    )
    media = docs.select("doc_id", F.encode(header, "UTF-8").alias("content"))
    out = multimodal.decode_image(media, "content")
    return out.select("doc_id", "width", "height")


MEDIA_DECODE_SQL = """
SELECT doc_id,
       CAST(n_chars % 64 + 1 AS INT) AS width,
       CAST(doc_id % 32 + 1 AS INT) AS height
FROM documents
"""

QUERIES["media_decode_dims"] = media_decode_dims
ORACLES["media_decode_dims"] = MEDIA_DECODE_SQL


def _thumbnail_content():
    """Column expression synthesizing a 9x8 binary P6 PPM per document:
    pixel bytes are an md5 chain over the document's LEADING content (a
    page thumbnail sees coarse layout, not trailing edits) — so the
    planted near-duplicate docs, which share long prefixes, collapse to
    one perceptual bucket.  Shared by the batch and streaming dHash
    dedup queries; MEDIA_DHASH_SQL replays the same chain."""
    txt = F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40)
    hx = F.concat(*[F.md5(F.concat(txt, F.lit(f"#{i}"))) for i in range(14)])
    return F.concat(
        F.encode(F.lit("P6\n9 8\n255\n"), "UTF-8"),
        F.unhex(F.substring(hx, 1, 432)),
    )


def media_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (the LAION pipeline's image-side
    twin of exact text dedup): every document synthesizes a 9x8 binary
    P6 PPM whose pixel bytes are an md5 chain over its text, the REAL
    dHash kernel (operators/multimodal.py::dhash_image — ppm_resize +
    integer grayscale + adjacent-pixel sign bits, Arrow-batched)
    hashes each raster, and duplicate groups are an ordinary
    ``groupBy(dhash)``.  Identical texts → identical rasters → one
    bucket, so the planted exact-duplicate docs surface as image
    duplicates.  The oracle replays the ENTIRE byte math in DuckDB —
    md5 chain → hex-pair bytes → integer-average grayscale → bit
    ``k=i*8+j`` assembly → ``%016x`` — so a kernel, batching, or
    bit-order bug fails the value hash.  Scale: the only shuffle is
    the 16-char-key groupBy; the md5 chain and kernel are map-side."""
    from chewdata_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", _thumbnail_content().alias("content"))
    hashed = multimodal.dhash_image(media, "content")
    return (
        hashed.groupBy("dhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") >= 2)
    )


MEDIA_DHASH_SQL = """
WITH px AS (
    SELECT doc_id,
           md5(substr(COALESCE(text, ''), 1, 40) || '#0') || md5(substr(COALESCE(text, ''), 1, 40) || '#1')
           || md5(substr(COALESCE(text, ''), 1, 40) || '#2') || md5(substr(COALESCE(text, ''), 1, 40) || '#3')
           || md5(substr(COALESCE(text, ''), 1, 40) || '#4') || md5(substr(COALESCE(text, ''), 1, 40) || '#5')
           || md5(substr(COALESCE(text, ''), 1, 40) || '#6') || md5(substr(COALESCE(text, ''), 1, 40) || '#7')
           || md5(substr(COALESCE(text, ''), 1, 40) || '#8') || md5(substr(COALESCE(text, ''), 1, 40) || '#9')
           || md5(substr(COALESCE(text, ''), 1, 40) || '#10') || md5(substr(COALESCE(text, ''), 1, 40) || '#11')
           || md5(substr(COALESCE(text, ''), 1, 40) || '#12') || md5(substr(COALESCE(text, ''), 1, 40) || '#13')
           AS hx
    FROM documents
), b AS (
    SELECT doc_id, p,
           (strpos('0123456789abcdef', substr(hx, 2 * p + 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(hx, 2 * p + 2, 1)) - 1 AS v
    FROM px, generate_series(0, 215) AS t(p)
), g AS (
    SELECT doc_id, p // 3 AS q, SUM(v) // 3 AS gray
    FROM b GROUP BY doc_id, p // 3
), bits AS (
    SELECT a.doc_id, (a.q // 9) * 8 + (a.q % 9) AS k,
           CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
    FROM g a JOIN g c ON c.doc_id = a.doc_id AND c.q = a.q + 1
    WHERE a.q % 9 < 8
), h AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN k >= 32 THEN CAST(bit AS BIGINT) << (k - 32)
                         ELSE 0 END) AS BIGINT) AS hi,
           CAST(SUM(CASE WHEN k < 32 THEN CAST(bit AS BIGINT) << k
                         ELSE 0 END) AS BIGINT) AS lo
    FROM bits GROUP BY doc_id
)
SELECT printf('%08x', hi) || printf('%08x', lo) AS dhash,
       CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keeper
FROM h GROUP BY 1 HAVING COUNT(*) >= 2
"""

QUERIES["media_dhash_dedup"] = media_dhash_dedup
ORACLES["media_dhash_dedup"] = MEDIA_DHASH_SQL


def stream_media_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup executed BY STRUCTURED STREAMING: images
    arrive as a file stream (availableNow), the REAL Arrow-batched
    dHash kernel runs inside the stream (``mapInPandas`` on a streaming
    DataFrame), and duplicate grouping is a stateful complete-mode
    aggregation keyed on the 16-char hash — deterministic under any
    micro-batch arrival order (streaming ``dropDuplicates`` would not
    be; min-id + count is order-insensitive).  The oracle is the batch
    query's FULL byte-math replay (MEDIA_DHASH_SQL, verbatim), so the
    streaming runtime — kernel batching across micro-batches included —
    is checked bit-for-bit against DuckDB.  At scale this is the
    live-ingest image dedup path: state is one row per distinct hash."""
    import os

    from chewdata_spark.operators import multimodal
    from chewdata_spark.streaming.ops import run_to_memory

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path + "*")
    media = stream.select("doc_id", _thumbnail_content().alias("content"))
    hashed = multimodal.dhash_image(media, "content")
    agg = hashed.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper")
    )
    out = run_to_memory(agg, "_stream_media_dhash", output_mode="complete")
    return out.filter(F.col("n_docs") >= 2)


QUERIES["stream_media_dhash_dedup"] = stream_media_dhash_dedup
ORACLES["stream_media_dhash_dedup"] = MEDIA_DHASH_SQL


def stream_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection via a STREAM-STATIC broadcast join:
    events arrive as a file stream; per-type mean/stddev come from the
    static reference table (the deployed-model pattern — stats frozen
    at training time, scored on live traffic); events ≥ 3σ emit.
    Stateless (no watermark needed: the static side is planned per
    micro-batch, the filter is a projection).  availableNow + memory
    sink; the batch SQL oracle replays the identical stats + filter."""
    import os

    from chewdata_spark.streaming.ops import run_to_memory

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path + "*")
    stats = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("_mu"), F.stddev_samp("value").alias("_sd"))
    )
    z = (F.col("value") - F.col("_mu")) / F.col("_sd")
    flagged = (
        stream.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= 3.0)
        .select("event_id", "event_type", F.round(z, 6).alias("zscore"))
    )
    return run_to_memory(flagged, "_stream_events_zscore")


STREAM_ZSCORE_SQL = """
WITH stats AS (
    SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
    FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, ROUND((value - mu) / sd, 6) AS zscore
FROM events e JOIN stats USING (event_type)
WHERE ABS((value - mu) / sd) >= 3.0
"""

QUERIES["stream_events_zscore"] = stream_events_zscore
ORACLES["stream_events_zscore"] = STREAM_ZSCORE_SQL


def docs_embeddings_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-integrity audit between the aligned tables: documents
    without an embedding, embeddings without a document, and the
    matched count — the referential check a multimodal corpus runs
    before training.  Two anti-join counts + one semi count over a
    single pair of id projections (16-byte keys, map-side combinable)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    missing_emb = docs.join(
        emb, docs.doc_id == emb.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("value"))
    orphan_emb = emb.join(
        docs, docs.doc_id == emb.vec_id, "left_anti"
    ).agg(F.count(F.lit(1)).alias("value"))
    matched = docs.join(
        emb, docs.doc_id == emb.vec_id, "left_semi"
    ).agg(F.count(F.lit(1)).alias("value"))
    return (
        missing_emb.select(F.lit("docs_without_embedding").alias("metric"), "value")
        .unionByName(
            orphan_emb.select(F.lit("embeddings_without_doc").alias("metric"), "value")
        )
        .unionByName(matched.select(F.lit("matched").alias("metric"), "value"))
    )


ALIGNMENT_SQL = """
SELECT 'docs_without_embedding' AS metric,
       (SELECT COUNT(*) FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS value
UNION ALL
SELECT 'embeddings_without_doc',
       (SELECT COUNT(*) FROM embeddings e
        WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
UNION ALL
SELECT 'matched',
       (SELECT COUNT(*) FROM documents d
        WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
"""

QUERIES["docs_embeddings_alignment"] = docs_embeddings_alignment
ORACLES["docs_embeddings_alignment"] = ALIGNMENT_SQL


def orders_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics on plain DataFrames (the Delta/Iceberg
    upsert, expressed engine-agnostically): an updates batch (every
    order with o_orderkey % 10 = 0 gets +5% totalprice; synthetic new
    orders appear above the max key) merges into orders — matched rows
    take the update, unmatched keep the target, inserts append.  One
    full-outer join on the key; at production scale this is the MERGE
    a table format executes with file-level pruning, and the
    row-level semantics here are exactly what it must produce."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    # +10.00 exactly (a x1.05 update lands on .005 midpoints where
    # Spark's BigDecimal HALF_UP and DuckDB's multiply-round disagree
    # on the double's decimal rendering)
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") + 10.0, 2).alias("o_totalprice"),
    )
    inserts = orders.agg(F.max("o_orderkey").alias("m")).select(
        (F.col("m") + 1).alias("o_orderkey"),
        F.lit(1).cast("long").alias("o_custkey"),
        F.lit(100.0).alias("o_totalprice"),
    )
    batch = updates.unionByName(inserts)
    t = orders.alias("t")
    s = batch.alias("s")
    merged = t.join(s, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.coalesce(F.col("s.o_custkey"), F.col("t.o_custkey")).alias("o_custkey"),
        F.round(
            F.coalesce(F.col("s.o_totalprice"), F.col("t.o_totalprice")), 2
        ).alias("o_totalprice"),
        (F.col("s.o_orderkey").isNotNull() & F.col("t.o_orderkey").isNotNull()).alias("was_updated"),
        F.col("t.o_orderkey").isNull().alias("was_inserted"),
    )
    return merged.filter(F.col("was_updated") | F.col("was_inserted"))


UPSERT_MERGE_SQL = """
WITH orders_d AS (
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
),
updates AS (
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice + 10.0, 2) AS o_totalprice
    FROM orders_d WHERE o_orderkey % 10 = 0
),
inserts AS (
    SELECT MAX(o_orderkey) + 1 AS o_orderkey,
           CAST(1 AS BIGINT) AS o_custkey, 100.0 AS o_totalprice
    FROM orders_d
),
batch AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
       ROUND(COALESCE(s.o_totalprice, t.o_totalprice), 2) AS o_totalprice,
       (s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL) AS was_updated,
       (t.o_orderkey IS NULL) AS was_inserted
FROM orders_d t FULL OUTER JOIN batch s USING (o_orderkey)
WHERE (s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL)
   OR t.o_orderkey IS NULL
"""

QUERIES["orders_upsert_merge"] = orders_upsert_merge
ORACLES["orders_upsert_merge"] = UPSERT_MERGE_SQL


def user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history builder: each user's event_type changes open
    a validity interval [valid_from, valid_to) closed by the next
    change (NULL = current) — the warehousing pattern for tracking
    attribute history.  Change detection and interval close are two
    expressions over ONE user-keyed window sort."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        # null-safe inequality (≡ IS DISTINCT FROM): a NULL event_type
        # after a non-NULL one is a CHANGE; plain != would yield NULL
        # and silently drop the row that the oracle keeps
        (~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))).alias("_chg"),
    )
    changes = marked.filter(F.col("_chg"))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


SCD2_SQL = """
WITH marked AS (
    SELECT user_id, event_type, ts, event_id,
           (LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS DISTINCT FROM event_type) AS chg
    FROM events
),
changes AS (SELECT * FROM marked WHERE chg)
SELECT user_id, event_type AS state, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM changes
"""

QUERIES["user_state_history"] = user_state_history
ORACLES["user_state_history"] = SCD2_SQL


def video_frame_sample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable exercise of the one-to-many frame-sampling
    plumbing: each document's bytes act as a synthetic video; the
    deterministic stand-in kernel (sha256-derived duration and frame
    bytes — operators/multimodal.py::fake_sample_frames) runs through
    the REAL Arrow mapInPandas `_frame_stage`, and the oracle re-derives
    duration and the uniform timestamps in SQL — so batching or
    row-replication bugs in the media path fail the value hash.  (The
    frame-byte digests stay pytest-contract-checked: DuckDB's sha256
    only accepts VARCHAR, and the 4-byte frame-index suffix contains
    NULs.)"""
    from chewdata_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    frames = multimodal.fake_sample_frames(media, "content", n_frames=4)
    return frames.select("doc_id", "frame_idx", "frame_ms")


_HEX6 = (
    "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576"
    " + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536"
    " + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(h, 6, 1)) - 1)"
)
VIDEO_FRAMES_SQL = f"""
WITH d AS (
    SELECT doc_id, sha256(text) AS h FROM documents
),
dur AS (
    SELECT doc_id, 1000 + {_HEX6} % 60000 AS duration_ms FROM d
)
SELECT doc_id,
       CAST(i.i AS INT) AS frame_idx,
       CAST((duration_ms * i.i) // 4 AS INT) AS frame_ms
FROM dur, (SELECT unnest(generate_series(0, 3)) AS i) i
"""

QUERIES["video_frame_sample_report"] = video_frame_sample_report
ORACLES["video_frame_sample_report"] = VIDEO_FRAMES_SQL


def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout planner for min/max file pruning: compares writing
    lineitem into 64 files clustered by ship-date alone vs by a Z-order
    (Morton) key over (ship-date, partkey) — the decision behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY``, here as a measurable audit.

    Per candidate layout it reports the average per-file min/max SPAN
    of each dimension's bucket (exactly what a parquet footer exposes
    to a reader) and the expected fraction of the 256-bucket domain a
    file covers: the linear layout prunes date predicates perfectly
    but leaves partkey spans near-full-domain (every file still read);
    the z-order layout makes BOTH spans small, so conjunctive /
    either-dimension predicates skip most files.  One corpus scan, one
    shuffle at (layout, file) grain — at 100 TB the audit costs one
    pass and decides terabytes of future scan work.

    File assignment is by fixed key-range (``z >> 10`` / ``date_b div
    4``), not a global sort: at scale the real write is
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` and this
    range-split is the same partitioning without the audit needing any
    sort at all."""
    from chewdata_spark.operators.layout import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    maxpk = li.agg(F.max("l_partkey").alias("maxpk"))
    date_b = F.least(
        F.greatest(
            F.expr("datediff(l_shipdate, DATE '1992-01-01') div 10"), F.lit(0)
        ),
        F.lit(255),
    ).cast("int")
    part_b = F.expr("(l_partkey * 256) div (maxpk + 1)").cast("int")
    bucketed = (
        li.crossJoin(F.broadcast(maxpk))
        .select(date_b.alias("date_b"), part_b.alias("part_b"))
        .select(
            "date_b",
            "part_b",
            F.inline(
                F.array(
                    F.struct(
                        F.lit("linear_date").alias("layout"),
                        F.expr("date_b div 4").cast("int").alias("file_id"),
                    ),
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        (
                            zorder_key([F.col("date_b"), F.col("part_b")], bits=8)
                            / F.lit(1024)
                        ).cast("int").alias("file_id"),
                    ),
                )
            ),
        )
    )
    per_file = bucketed.groupBy("layout", "file_id").agg(
        (F.max("date_b") - F.min("date_b") + 1).alias("span_date"),
        (F.max("part_b") - F.min("part_b") + 1).alias("span_part"),
    )
    return (
        per_file.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            F.round(F.avg("span_date"), 4).alias("avg_date_span"),
            F.round(F.avg("span_part"), 4).alias("avg_part_span"),
            F.round(F.avg("span_date") / 256.0, 4).alias("date_file_frac"),
            F.round(F.avg("span_part") / 256.0, 4).alias("part_file_frac"),
        )
    )


def _zorder_audit_sql() -> str:
    from chewdata_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql(["date_b", "part_b"], bits=8)
    return f"""
WITH mx AS (SELECT MAX(l_partkey) AS maxpk FROM lineitem),
b AS (
    SELECT LEAST(GREATEST(date_diff('day', DATE '1992-01-01', l_shipdate) // 10, 0), 255) AS date_b,
           (l_partkey * 256) // (maxpk + 1) AS part_b
    FROM lineitem, mx
),
stacked AS (
    SELECT 'linear_date' AS layout, date_b // 4 AS file_id, date_b, part_b FROM b
    UNION ALL
    SELECT 'zorder' AS layout, {z} // 1024 AS file_id, date_b, part_b FROM b
),
per_file AS (
    SELECT layout, file_id,
           MAX(date_b) - MIN(date_b) + 1 AS span_date,
           MAX(part_b) - MIN(part_b) + 1 AS span_part
    FROM stacked GROUP BY 1, 2
)
SELECT layout, CAST(COUNT(*) AS INT) AS n_files,
       ROUND(AVG(span_date), 4) AS avg_date_span,
       ROUND(AVG(span_part), 4) AS avg_part_span,
       ROUND(AVG(span_date) / 256.0, 4) AS date_file_frac,
       ROUND(AVG(span_part) / 256.0, 4) AS part_file_frac
FROM per_file GROUP BY 1
"""


QUERIES["zorder_layout_audit"] = zorder_layout_audit
ORACLES["zorder_layout_audit"] = _zorder_audit_sql()


def shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-skew audit — the diagnostic an operator runs
    BEFORE keying a 100 TB shuffle: for each candidate shuffle key it
    reports key cardinality, the hottest key's share, the top-10
    concentration, and an integer salt recommendation
    (ceil(max_cnt / avg_cnt), capped at 32) that feeds directly into
    salted_sum_count / salted_join.  events.user_id (uniform) vs
    events.event_type (5 keys — pathological) bracket the spectrum.
    Per key: one count aggregation; the top-10 probe is
    TakeOrdered-shaped (sort bounded to 10 rows), never a full-key
    window.  All integer/ratio arithmetic — the oracle replays it."""
    ev = load_table(spark, sf_dir, "events")

    def audit(key: str) -> DataFrame:
        cnt = ev.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        summary = cnt.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("total_rows"),
            F.max("cnt").alias("max_cnt"),
        )
        top10 = (
            cnt.orderBy(F.col("cnt").desc(), F.col(key).asc())
            .limit(10)
            .agg(F.sum("cnt").alias("top10_rows"))
        )
        return (
            summary.crossJoin(top10)
            .select(
                F.lit(key).alias("key_col"),
                "n_keys",
                "total_rows",
                "max_cnt",
                F.round(F.col("max_cnt") / F.col("total_rows"), 6).alias("max_share"),
                F.round(F.col("top10_rows") / F.col("total_rows"), 6).alias(
                    "top10_share"
                ),
                F.round(
                    F.col("max_cnt") * F.col("n_keys") / F.col("total_rows"), 4
                ).alias("skew_ratio"),
                F.least(
                    F.lit(32),
                    F.greatest(
                        F.lit(1),
                        F.expr("(max_cnt * n_keys + total_rows - 1) div total_rows"),
                        F.expr("(32 + n_keys - 1) div n_keys"),
                    ),
                ).cast("int").alias("recommended_salts"),
            )
        )

    return audit("user_id").unionByName(audit("event_type"))


def _skew_audit_sql() -> str:
    def one(key: str) -> str:
        return f"""
SELECT '{key}' AS key_col, n_keys, total_rows, max_cnt,
       ROUND(max_cnt * 1.0 / total_rows, 6) AS max_share,
       ROUND(top10_rows * 1.0 / total_rows, 6) AS top10_share,
       ROUND(max_cnt * n_keys * 1.0 / total_rows, 4) AS skew_ratio,
       CAST(LEAST(32, GREATEST(1, (max_cnt * n_keys + total_rows - 1) // total_rows,
                  (32 + n_keys - 1) // n_keys)) AS INT)
           AS recommended_salts
FROM (
    SELECT COUNT(*) AS n_keys, SUM(cnt) AS total_rows, MAX(cnt) AS max_cnt
    FROM (SELECT {key}, COUNT(*) AS cnt FROM events GROUP BY 1)
) s, (
    SELECT SUM(cnt) AS top10_rows FROM (
        SELECT COUNT(*) AS cnt FROM events GROUP BY {key}
        ORDER BY cnt DESC, {key} ASC LIMIT 10
    )
) t
"""

    return (
        "SELECT key_col, CAST(n_keys AS BIGINT) AS n_keys,"
        " CAST(total_rows AS BIGINT) AS total_rows,"
        " CAST(max_cnt AS BIGINT) AS max_cnt, max_share, top10_share,"
        " skew_ratio, recommended_salts FROM ("
        + one("user_id")
        + " UNION ALL "
        + one("event_type")
        + ")"
    )


QUERIES["shuffle_skew_audit"] = shuffle_skew_audit
ORACLES["shuffle_skew_audit"] = _skew_audit_sql()


def forget_users_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit (GDPR Art. 17 pre-flight): given a
    forget-set (here the deterministic ~2% coin over user ids), report
    per table how many rows the cascade will erase — the number a data
    owner signs off before the eraser runs.  The forget-set is tiny by
    nature → broadcast semi-joins against each fact table; one count
    aggregate per table, corpus scanned once each, nothing collected."""
    from chewdata_spark.operators.curation import md5_hex16

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    forget = (
        ev.select(F.col("user_id").alias("uid")).distinct()
        .filter(
            md5_hex16(F.concat_ws("|", F.lit("gdpr"), F.col("uid").cast("string")))
            % 50
            == 0
        )
    )

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        total = df.agg(F.count(F.lit(1)).alias("n_rows"))
        hit = (
            df.join(
                F.broadcast(forget), df[key] == forget["uid"], "left_semi"
            ).agg(F.count(F.lit(1)).alias("n_forgotten"))
        )
        return total.crossJoin(hit).select(
            F.lit(name).alias("table_name"),
            "n_rows",
            "n_forgotten",
            F.round(F.col("n_forgotten") / F.col("n_rows"), 6).alias("frac"),
        )

    return (
        audit(ev, "user_id", "events")
        .unionByName(audit(orders, "o_custkey", "orders"))
        .unionByName(audit(customer, "c_custkey", "customer"))
    )


_GDPR_COIN = (
    "((strpos('0123456789abcdef', substr(md5('gdpr|' || CAST(uid AS VARCHAR)), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5('gdpr|' || CAST(uid AS VARCHAR)), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5('gdpr|' || CAST(uid AS VARCHAR)), 3, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5('gdpr|' || CAST(uid AS VARCHAR)), 4, 1)) - 1) % 50 = 0"
)

FORGET_AUDIT_SQL = f"""
WITH forget AS (
    SELECT uid FROM (SELECT DISTINCT user_id AS uid FROM events)
    WHERE {_GDPR_COIN}
)
SELECT 'events' AS table_name,
       (SELECT COUNT(*) FROM events) AS n_rows,
       (SELECT COUNT(*) FROM events WHERE user_id IN (SELECT uid FROM forget)) AS n_forgotten,
       ROUND((SELECT COUNT(*) FROM events WHERE user_id IN (SELECT uid FROM forget)) * 1.0
             / (SELECT COUNT(*) FROM events), 6) AS frac
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT uid FROM forget)),
       ROUND((SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT uid FROM forget)) * 1.0
             / (SELECT COUNT(*) FROM orders), 6)
UNION ALL
SELECT 'customer',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT uid FROM forget)),
       ROUND((SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT uid FROM forget)) * 1.0
             / (SELECT COUNT(*) FROM customer), 6)
"""

QUERIES["forget_users_audit"] = forget_users_audit
ORACLES["forget_users_audit"] = FORGET_AUDIT_SQL


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the quasi-identifier
    (lang, source) of the documents table: every equivalence class's
    size, the corpus-wide minimum k, and the fraction of rows living
    in classes below k=5 — the re-identification risk number a privacy
    review asks for before release.  One groupBy to QI grain, then
    arithmetic over class-cardinality rows."""
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("k"))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("k").alias("min_k"),
        F.sum("k").alias("n_rows"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).alias("rows_below_5"),
        F.round(
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)) / F.sum("k"), 6
        ).alias("frac_below_5"),
    )


K_ANON_SQL = """
WITH classes AS (
    SELECT lang, source, COUNT(*) AS k FROM documents GROUP BY 1, 2
)
SELECT COUNT(*) AS n_classes,
       MIN(k) AS min_k,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5,
       ROUND(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) * 1.0 / SUM(k), 6) AS frac_below_5
FROM classes
"""

QUERIES["k_anonymity_report"] = k_anonymity_report
ORACLES["k_anonymity_report"] = K_ANON_SQL


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-(lang, source) document
    counts: Laplace(1/ε) noise, ε=1, via INVERSE-CDF sampling of the
    portable md5 uniform — noise = -sign(u-.5)·ln(1-2|u-.5|)/ε — so
    the "random" release is deterministic, auditable, and replayable
    in the oracle (the production system swaps the coin for a secret
    seed; the MECHANISM is what's under test).  True counts stay
    alongside for the utility error; a real release would drop them.
    Map-side agg to QI grain, noise is a projection."""
    from chewdata_spark.operators.curation import md5_hex16

    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("true_n"))
    u = (
        md5_hex16(F.concat_ws("|", F.lit("dp"), F.col("lang"), F.col("source"))) + 0.5
    ) / 65536.0
    centered = u - 0.5
    noise = (
        -F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return classes.select(
        "lang",
        "source",
        "true_n",
        F.round(noise, 4).alias("noise"),
        F.greatest(F.round(F.col("true_n") + noise, 0).cast("bigint"), F.lit(0)).alias(
            "released_n"
        ),
    )


DP_NOISY_SQL = """
WITH classes AS (
    SELECT lang, source, COUNT(*) AS true_n FROM documents GROUP BY 1, 2
), coin AS (
    SELECT lang, source, true_n,
           (((strpos('0123456789abcdef', substr(md5('dp|' || lang || '|' || source), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5('dp|' || lang || '|' || source), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5('dp|' || lang || '|' || source), 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5('dp|' || lang || '|' || source), 4, 1)) - 1) + 0.5)
           / 65536.0 - 0.5 AS c
    FROM classes
)
SELECT lang, source, true_n,
       ROUND(-sign(c) * ln(1.0 - 2.0 * ABS(c)), 4) AS noise,
       GREATEST(CAST(ROUND(true_n + (-sign(c) * ln(1.0 - 2.0 * ABS(c))), 0) AS BIGINT), 0) AS released_n
FROM coin
"""

QUERIES["dp_noisy_counts"] = dp_noisy_counts
ORACLES["dp_noisy_counts"] = DP_NOISY_SQL


def parts_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: blocked fuzzy matching (first/
    last-token blocks, levenshtein <= 2) + connected components; entity
    id = min canonical name per component
    (operators/entity.py::entity_resolution — the record-linkage step
    the reference's fuzzy string predicates stop short of,
    src/updater/tera_helpers/string.rs)."""
    from chewdata_spark.operators.entity import entity_resolution

    part = load_table(spark, sf_dir, "part")
    return entity_resolution(part, "p_name", max_edit=2)


ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE nm AS (
    SELECT regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name,
           COUNT(*) AS n_rows
    FROM part GROUP BY 1
), blk AS (
    SELECT DISTINCT name, blk FROM (
        SELECT name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM nm)
), ok AS (
    -- hot-block cap mirror: blocks wider than max_block names are
    -- dropped entirely (matches entity_resolution's observe()-surfaced
    -- cap; a pair sharing another, non-hot block still matches)
    SELECT blk FROM blk GROUP BY blk HAVING COUNT(*) <= 10000
), pr AS (
    SELECT DISTINCT a.name AS id_a, b.name AS id_b
    FROM blk a
    JOIN ok USING (blk)
    JOIN blk b ON a.blk = b.blk AND a.name < b.name
    WHERE abs(length(a.name) - length(b.name)) <= 2
      AND levenshtein(a.name, b.name) <= 2
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pr
    UNION
    SELECT id_b AS u, id_a AS v FROM pr
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT nm.name, COALESCE(lab.cluster_id, nm.name) AS entity_id, nm.n_rows,
       COUNT(*) OVER (PARTITION BY COALESCE(lab.cluster_id, nm.name)) AS entity_size
FROM nm LEFT JOIN lab ON nm.name = lab.node
"""

QUERIES["parts_entity_resolution"] = parts_entity_resolution
ORACLES["parts_entity_resolution"] = ENTITY_RESOLUTION_SQL


def parts_entity_resolution_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental entity resolution: even-partkey parts are the
    existing corpus (resolved with the full blocked-fuzzy + transitive
    closure), odd-partkey parts arrive as the new batch and resolve
    against that entity table through exact / blocked-fuzzy /
    found-new-entity gates — no history re-clustering
    (operators/entity.py::incremental_entity_resolution, the ER sibling
    of dedup_incremental_ingest)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.entity import (
        entity_resolution,
        incremental_entity_resolution,
    )

    part = load_table(spark, sf_dir, "part")
    seen = entity_resolution(
        part.filter(F.col("p_partkey") % 2 == 0), "p_name", max_edit=2
    ).select("name", "entity_id")
    return incremental_entity_resolution(
        part.filter(F.col("p_partkey") % 2 == 1), seen, "p_name", max_edit=2
    )


ENTITY_RESOLUTION_INCREMENTAL_SQL = """
WITH RECURSIVE nm AS (
    SELECT regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name,
           COUNT(*) AS n_rows
    FROM part WHERE p_partkey % 2 = 0 GROUP BY 1
), blk AS (
    SELECT DISTINCT name, blk FROM (
        SELECT name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM nm)
), ok AS (
    SELECT blk FROM blk GROUP BY blk HAVING COUNT(*) <= 10000
), pr AS (
    SELECT DISTINCT a.name AS id_a, b.name AS id_b
    FROM blk a
    JOIN ok USING (blk)
    JOIN blk b ON a.blk = b.blk AND a.name < b.name
    WHERE abs(length(a.name) - length(b.name)) <= 2
      AND levenshtein(a.name, b.name) <= 2
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pr
    UNION
    SELECT id_b AS u, id_a AS v FROM pr
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
), seen AS (
    SELECT nm.name, COALESCE(lab.cluster_id, nm.name) AS entity_id
    FROM nm LEFT JOIN lab ON nm.name = lab.node
), newnm AS (
    SELECT regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name,
           COUNT(*) AS n_rows
    FROM part WHERE p_partkey % 2 = 1 GROUP BY 1
), exact AS (
    SELECT n.name, s.entity_id, n.n_rows FROM newnm n JOIN seen s USING (name)
), rest AS (
    SELECT * FROM newnm WHERE name NOT IN (SELECT name FROM seen)
), nblk AS (
    SELECT DISTINCT name, blk FROM (
        SELECT name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM rest)
), sblk AS (
    SELECT DISTINCT name, blk FROM (
        SELECT name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM seen)
), sok AS (
    -- seen-side hot-block cap (history is the wide side at scale)
    SELECT blk FROM sblk GROUP BY blk HAVING COUNT(*) <= 10000
), fuzzy AS (
    SELECT n.name, MIN(s.entity_id) AS entity_id
    FROM nblk n
    JOIN sok ON sok.blk = n.blk
    JOIN sblk b ON n.blk = b.blk
    JOIN seen s ON s.name = b.name
    WHERE abs(length(n.name) - length(b.name)) <= 2
      AND levenshtein(n.name, b.name) <= 2
    GROUP BY n.name
)
SELECT name, entity_id, n_rows, FALSE AS is_new_entity FROM exact
UNION ALL
SELECT r.name, COALESCE(f.entity_id, r.name) AS entity_id, r.n_rows,
       f.entity_id IS NULL AS is_new_entity
FROM rest r LEFT JOIN fuzzy f USING (name)
"""

QUERIES["parts_entity_resolution_incremental"] = parts_entity_resolution_incremental
ORACLES["parts_entity_resolution_incremental"] = ENTITY_RESOLUTION_INCREMENTAL_SQL


def stream_parts_entity_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING incremental entity resolution: odd-partkey parts
    arrive as a file stream and each RECORD gets an entity assignment
    against the static resolved table (even-partkey corpus) — the
    streaming twin of `parts_entity_resolution_incremental`, at row
    grain because a stream assigns per record, not per batch-distinct
    name.

    Shape: all three gates emit candidate rows through stream-static
    equi-joins (exact name pri 0, blocked-fuzzy pri 1 on the capped
    seen-side blocks, self pri 2), and ONE stateful aggregate takes
    `min(struct(pri, entity_id))` per record — exact beats fuzzy beats
    new-entity, min entity_id inside a gate, identical to the batch
    operator's gate order.  availableNow + complete-mode memory sink;
    the batch SQL oracle replays the same priority-min at row grain."""
    import os

    from chewdata_spark.operators.entity import (
        _blocks,
        canonical_name,
        entity_resolution,
    )
    from chewdata_spark.streaming.ops import run_to_memory

    path = os.path.join(sf_dir, "part.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(path + "*")
        .filter(F.col("p_partkey") % 2 == 1)
        .select("p_partkey", canonical_name(F.col("p_name")).alias("name"))
    )
    part = load_table(spark, sf_dir, "part")
    seen = entity_resolution(
        part.filter(F.col("p_partkey") % 2 == 0), "p_name", max_edit=2
    ).select("name", "entity_id")
    sblk_ent = (
        _blocks(seen.select("name"), 10_000)
        .withColumnRenamed("name", "sname")
        .join(seen.select(F.col("name").alias("sname"), "entity_id"), "sname")
    )

    exact = stream.join(seen, "name").select(
        "p_partkey", "name", "entity_id", F.lit(0).alias("pri")
    )
    toks = F.split(F.col("name"), " ")
    nblk = stream.select(
        "p_partkey",
        "name",
        F.explode(
            F.array_distinct(F.array(toks.getItem(0), F.element_at(toks, -1)))
        ).alias("blk"),
    )
    fuzzy = (
        nblk.join(sblk_ent, "blk")
        .filter(F.abs(F.length("name") - F.length("sname")) <= 2)
        .filter(F.levenshtein("name", "sname") <= 2)
        .select("p_partkey", "name", "entity_id", F.lit(1).alias("pri"))
    )
    self_ = stream.select(
        "p_partkey", "name", F.col("name").alias("entity_id"),
        F.lit(2).alias("pri"),
    )
    assign = (
        exact.unionByName(fuzzy)
        .unionByName(self_)
        .groupBy("p_partkey", "name")
        .agg(F.min(F.struct("pri", "entity_id")).alias("m"))
        .select(
            "p_partkey",
            "name",
            F.col("m.entity_id").alias("entity_id"),
            (F.col("m.pri") == 2).alias("is_new_entity"),
        )
    )
    return run_to_memory(assign, "_stream_parts_er", output_mode="complete")


STREAM_ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE nm AS (
    SELECT regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name,
           COUNT(*) AS n_rows
    FROM part WHERE p_partkey % 2 = 0 GROUP BY 1
), blk AS (
    SELECT DISTINCT name, blk FROM (
        SELECT name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM nm)
), ok AS (
    SELECT blk FROM blk GROUP BY blk HAVING COUNT(*) <= 10000
), pr AS (
    SELECT DISTINCT a.name AS id_a, b.name AS id_b
    FROM blk a
    JOIN ok USING (blk)
    JOIN blk b ON a.blk = b.blk AND a.name < b.name
    WHERE abs(length(a.name) - length(b.name)) <= 2
      AND levenshtein(a.name, b.name) <= 2
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pr
    UNION
    SELECT id_b AS u, id_a AS v FROM pr
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
), seen AS (
    SELECT nm.name, COALESCE(lab.cluster_id, nm.name) AS entity_id
    FROM nm LEFT JOIN lab ON nm.name = lab.node
), sblk AS (
    SELECT DISTINCT name, blk FROM (
        SELECT name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM seen)
), sok AS (
    SELECT blk FROM sblk GROUP BY blk HAVING COUNT(*) <= 10000
), newp AS (
    SELECT p_partkey,
           regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name
    FROM part WHERE p_partkey % 2 = 1
), nblk AS (
    SELECT DISTINCT p_partkey, name, blk FROM (
        SELECT p_partkey, name,
               UNNEST([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS blk
        FROM newp)
), cand AS (
    SELECT p.p_partkey, p.name, s.entity_id, 0 AS pri
    FROM newp p JOIN seen s USING (name)
    UNION ALL
    SELECT n.p_partkey, n.name, s.entity_id, 1 AS pri
    FROM nblk n
    JOIN sok ON sok.blk = n.blk
    JOIN sblk b ON n.blk = b.blk
    JOIN seen s ON s.name = b.name
    WHERE abs(length(n.name) - length(b.name)) <= 2
      AND levenshtein(n.name, b.name) <= 2
    UNION ALL
    SELECT p_partkey, name, name AS entity_id, 2 AS pri FROM newp
), ranked AS (
    SELECT p_partkey, name, pri, entity_id,
           MIN(pri) OVER (PARTITION BY p_partkey, name) AS mp
    FROM cand
)
SELECT p_partkey, name, MIN(entity_id) AS entity_id,
       MAX(pri) = 2 AS is_new_entity
FROM ranked WHERE pri = mp
GROUP BY p_partkey, name
"""

QUERIES["stream_parts_entity_resolution"] = stream_parts_entity_resolution
ORACLES["stream_parts_entity_resolution"] = STREAM_ENTITY_RESOLUTION_SQL
