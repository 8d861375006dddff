"""Advanced analytics: grouping sets, pivot, percentiles, sketches, stats.

Beyond the reference surface (it has no aggregation operators at all —
SURVEY §2.8); these are table-stakes for an analytics engine and all
ride native Catalyst aggregation (partial agg map-side, AQE-coalesced
shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chewdata_spark.tables import load_table


# --- ROLLUP with grouping indicator ------------------------------------------
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, status) revenue with subtotals and grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --- CUBE --------------------------------------------------------------------
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all grouping-set combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       ROUND(AVG(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- PIVOT (conditional aggregation) -----------------------------------------
PIVOT_STATUSES = ["F", "O", "P"]


def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts pivoted to one column per status."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", PIVOT_STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, PIVOT_STATUSES)
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS F,
       COUNT(*) FILTER (o_orderstatus = 'O') AS O,
       COUNT(*) FILTER (o_orderstatus = 'P') AS P
FROM orders
GROUP BY o_orderpriority
"""


# --- Exact percentiles (linear interpolation) --------------------------------
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of extendedprice per returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.element_at(pct, 1), 4).alias("p25"),
            F.round(F.element_at(pct, 2), 4).alias("p50"),
            F.round(F.element_at(pct, 3), 4).alias("p75"),
        )
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
FROM lineitem
GROUP BY l_returnflag
"""


# --- Exact + approximate distinct counting -----------------------------------
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


DISTINCT_USERS_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch counting — the at-scale replacement for exact
    distinct (no full shuffle of the key space).  Rows-only check:
    sketch internals are engine-specific; tests assert <5% relative
    error vs. the exact count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


# --- Correlation / covariance -------------------------------------------------
def qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance of quantity vs price per flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_price"),
        )
    )


CORR_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
       ROUND(stddev_samp(l_extendedprice), 4) AS stddev_price
FROM lineitem
GROUP BY l_returnflag
"""


# --- Running / moving window aggregates --------------------------------------
def running_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative + 7-day moving average of daily order totals."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_total"))
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_ma = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "day_total",
        F.round(F.sum("day_total").over(w_cum), 2).alias("cum_total"),
        F.round(F.avg("day_total").over(w_ma), 4).alias("ma7"),
    )


RUNNING_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           ROUND(SUM(o_totalprice), 2) AS day_total
    FROM orders GROUP BY 1
)
SELECT day, day_total,
       ROUND(SUM(day_total) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_total,
       ROUND(AVG(day_total) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily
"""


# --- As-of join ---------------------------------------------------------------
def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event matched to the user's latest order at-or-before the
    event (as-of join via union + carry-forward window; one shuffle)."""
    from chewdata_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        ev,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("matched_order"),
        F.col("o_totalprice").alias("matched_total"),
        F.col("matched_ts").alias("matched_date"),
    )


ASOF_SQL = """
WITH ranked AS (
    SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, o.o_orderdate,
           ROW_NUMBER() OVER (PARTITION BY e.event_id
                              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e
    JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT e.event_id, e.user_id,
       r.o_orderkey AS matched_order,
       r.o_totalprice AS matched_total,
       r.o_orderdate AS matched_date
FROM events e
LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (event_id)
"""


def signup_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorted conversion funnel: per first-signup date, how many users
    signed up and how many purchased within 7 days of that signup.

    Scale shape: both aggregations key on user_id (map-side partials);
    the conversion check is a LEFT SEMI join with the time window inside
    the join condition — purchases short-circuit at first match and
    never duplicate the signup row.  The final cohort join is
    date-keyed (tiny, AQE broadcasts it).
    """
    events = load_table(spark, sf_dir, "events")
    firsts = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = firsts.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("signup_ts"))
        & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")),
        "left_semi",
    )
    cohorts = firsts.groupBy(F.to_date("signup_ts").alias("cohort_date")).agg(
        F.count(F.lit(1)).alias("n_signups")
    )
    conv = converted.groupBy(F.to_date("signup_ts").alias("cohort_date")).agg(
        F.count(F.lit(1)).alias("n_converted")
    )
    return (
        cohorts.join(conv, "cohort_date", "left")
        .select(
            "cohort_date",
            "n_signups",
            F.coalesce("n_converted", F.lit(0)).alias("n_converted"),
            F.round(F.coalesce("n_converted", F.lit(0)) / F.col("n_signups"), 4).alias("conv_rate"),
        )
    )


FUNNEL_SQL = """
WITH firsts AS (
    SELECT user_id, MIN(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
converted AS (
    SELECT f.user_id, f.signup_ts
    FROM firsts f
    WHERE EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = f.user_id
          AND p.ts >= f.signup_ts AND p.ts <= f.signup_ts + INTERVAL 7 DAY
    )
),
cohorts AS (
    SELECT CAST(signup_ts AS DATE) AS cohort_date, COUNT(*) AS n_signups
    FROM firsts GROUP BY 1
),
conv AS (
    SELECT CAST(signup_ts AS DATE) AS cohort_date, COUNT(*) AS n_converted
    FROM converted GROUP BY 1
)
SELECT c.cohort_date, c.n_signups,
       COALESCE(v.n_converted, 0) AS n_converted,
       ROUND(COALESCE(v.n_converted, 0) * 1.0 / c.n_signups, 4) AS conv_rate
FROM cohorts c LEFT JOIN conv v USING (cohort_date)
"""


QUERIES = {
    "signup_conversion_funnel": signup_conversion_funnel,
    "events_asof_orders": events_asof_orders,
    "rollup_revenue": rollup_revenue,
    "cube_order_stats": cube_order_stats,
    "pivot_order_status": pivot_order_status,
    "price_percentiles": price_percentiles,
    "distinct_users_by_type": distinct_users_by_type,
    "approx_distinct_users": approx_distinct_users,
    "qty_price_correlation": qty_price_correlation,
    "running_daily_revenue": running_daily_revenue,
}

ORACLES = {
    "signup_conversion_funnel": FUNNEL_SQL,
    "events_asof_orders": ASOF_SQL,
    "rollup_revenue": ROLLUP_SQL,
    "cube_order_stats": CUBE_SQL,
    "pivot_order_status": PIVOT_SQL,
    "price_percentiles": PERCENTILES_SQL,
    "distinct_users_by_type": DISTINCT_USERS_SQL,
    "qty_price_correlation": CORR_SQL,
    "running_daily_revenue": RUNNING_SQL,
}


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by first-activity
    week; each cell counts the cohort's users active N weeks later.

    Scale shape: one user-keyed aggregation for cohort assignment, one
    distinct (user, week) pre-aggregation (both map-side combinable),
    then a user-keyed join that AQE broadcasts when the cohort side is
    small — no window over raw events, no distinct over the join
    output (the (user, week) grain is already unique)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    user_weeks = ev.select("user_id", wk.alias("week")).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = user_weeks.join(cohorts, "user_id")
    offset = (
        F.datediff(F.col("week"), F.col("cohort_week")) / 7
    ).cast("int")
    return (
        joined.groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RETENTION_SQL = """
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events
),
cohorts AS (
    SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, uw.week) / 7 AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM uw JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""

QUERIES["user_retention_cohorts"] = user_retention_cohorts
ORACLES["user_retention_cohorts"] = RETENTION_SQL


def pagerank_order_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 damped power iterations) over the customer↔supplier
    order graph — edges are distinct (customer, supplier) trade links
    from orders⋈lineitem, in both directions (undirected influence).
    The third iterative-algorithm class beside connected components and
    Lloyd k-means, and like them the SQL oracle replays every round
    exactly (6-dp rank rounding per iteration) —
    operators/graph.py::pagerank."""
    from chewdata_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    trade = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = trade.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        trade.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iters=2, damping=0.85)


PAGERANK_SQL = """
WITH trade AS (
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                    's' || CAST(l_suppkey AS VARCHAR) AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
    SELECT c AS src, s AS dst FROM trade
    UNION ALL
    SELECT s AS src, c AS dst FROM trade
),
nodes AS (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
    )
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
pr0 AS (SELECT node, ROUND(1.0 / nn.n, 6) AS pr FROM nodes, nn),
c1 AS (
    SELECT e.dst AS node, SUM(p.pr / g.d) AS in_sum
    FROM edges e JOIN pr0 p ON p.node = e.src JOIN deg g ON g.src = e.src
    GROUP BY e.dst
),
pr1 AS (
    SELECT nodes.node,
           ROUND(0.15 / nn.n + 0.85 * COALESCE(c1.in_sum, 0.0), 6) AS pr
    FROM nodes LEFT JOIN c1 ON c1.node = nodes.node, nn
),
c2 AS (
    SELECT e.dst AS node, SUM(p.pr / g.d) AS in_sum
    FROM edges e JOIN pr1 p ON p.node = e.src JOIN deg g ON g.src = e.src
    GROUP BY e.dst
)
SELECT nodes.node,
       ROUND(0.15 / nn.n + 0.85 * COALESCE(c2.in_sum, 0.0), 6) AS pr
FROM nodes LEFT JOIN c2 ON c2.node = nodes.node, nn
"""

QUERIES["pagerank_order_graph"] = pagerank_order_graph
ORACLES["pagerank_order_graph"] = PAGERANK_SQL


def distinct_users_linear_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Counting distinct estimate (Whang et al.): hash every
    user into an m=4096-bit map; estimate = -m·ln(empty/m).  Unlike
    HLL (whose sketch internals are engine-specific — see
    approx_distinct_users, rows-only), the md5 bitmap is bit-identical
    in every engine, so this approximate algorithm is fully
    value-verified.  One distinct on bit positions (≤ m rows) + the
    exact count for the observed relative error."""
    from chewdata_spark.operators.curation import md5_hex16

    ev = load_table(spark, sf_dir, "events")
    bit = md5_hex16(F.col("user_id").cast("string")) % 4096
    n_bits = ev.select(bit.alias("b")).distinct().agg(
        F.count(F.lit(1)).alias("n_set_bits")
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    # saturation guard: with every bit set ln(0) would be NULL here and
    # an error in the oracle; clamp to m-1 (the estimator's ceiling —
    # at that point Linear Counting is out of range anyway and a larger
    # m or HLL is the right tool)
    clamped = F.least(F.col("n_set_bits"), F.lit(4095))
    est = F.round(-4096.0 * F.log((4096.0 - clamped) / 4096.0), 2)
    return (
        n_bits.crossJoin(exact)
        .select(
            "n_set_bits",
            est.alias("lc_estimate"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
            ).alias("rel_error"),
        )
    )


LINEAR_COUNT_SQL = """
WITH bits AS (
    SELECT DISTINCT
           ((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1) % 4096 AS b
    FROM events
),
nb AS (SELECT COUNT(*) AS n_set_bits FROM bits),
ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events)
SELECT n_set_bits,
       ROUND(-4096.0 * ln((4096.0 - LEAST(n_set_bits, 4095)) / 4096.0), 2) AS lc_estimate,
       exact_distinct,
       ROUND(ABS(ROUND(-4096.0 * ln((4096.0 - LEAST(n_set_bits, 4095)) / 4096.0), 2)
                 - exact_distinct) * 1.0 / exact_distinct, 4) AS rel_error
FROM nb, ex
"""

QUERIES["distinct_users_linear_count"] = distinct_users_linear_count
ORACLES["distinct_users_linear_count"] = LINEAR_COUNT_SQL


def hll_registers(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Dense-HLL register relation (p=9 → m=512): one row per
    (key, register) with the max rho observed — the mergeable sketch
    state (sketches combine by unioning register relations and taking
    the elementwise MAX; see tests/test_sketches.py).  All integer /
    string math: register = first 16 md5 bits mod 512; rho = leading-
    zero count of the next 40 bits + 1 via hex-digit trimming — no
    log2/float anywhere in the sketch, so any engine replays it."""
    from chewdata_spark.operators.curation import md5_hex16

    ids = F.col(id_col).cast("string")
    # 40 bits after the register bits, leading zero hex digits trimmed
    trimmed = F.expr(
        f"trim(LEADING '0' FROM substring(md5(CAST({id_col} AS STRING)), 5, 10))"
    )
    lead = F.conv(F.substring(trimmed, 1, 1), 16, 10).cast("int")
    nz = F.when(lead >= 8, 0).when(lead >= 4, 1).when(lead >= 2, 2).otherwise(3)
    rho = F.when(trimmed == "", F.lit(41)).otherwise(
        (F.lit(10) - F.length(trimmed)) * 4 + nz + 1
    )
    return (
        df.select(
            F.col(key_col).alias("key"),
            (md5_hex16(ids) % 512).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("key", "reg")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Fold a register relation to (key, n_regs, hll_estimate).
    sum(2^-rho) over ≤512 registers is a sum of dyadic rationals with
    exponent ≥ -41 and total < 2^10 — every partial sum is exactly
    representable in a double, so the harmonic estimate is
    bit-identical in any engine regardless of summation order; ln()
    appears only in the small-range Linear-Counting branch, rounded."""
    m = 512.0
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy("key").agg(
        F.count(F.lit(1)).cast("int").alias("n_regs"),
        (F.sum(F.pow(F.lit(2.0), -F.col("r"))) + (F.lit(m) - F.count(F.lit(1)))).alias(
            "denom"
        ),
    )
    zeros = F.lit(m) - F.col("n_regs")
    raw = F.lit(alpha * m * m) / F.col("denom")
    est = F.round(
        F.when((raw <= 2.5 * m) & (zeros > 0), F.lit(m) * F.log(F.lit(m) / zeros))
        .otherwise(raw),
        2,
    )
    return agg.select("key", "n_regs", est.alias("hll_estimate"))


def hll_distinct_users_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable dense HyperLogLog (Flajolet et al. 2007), p=9 → m=512
    registers per event_type — the md5 twin that makes HLL itself
    value-verifiable (approx_distinct_users uses Spark's built-in
    HLL++ whose sketch bytes are engine-specific, so it is rows-only;
    reference exposes distinct counting only as exact — this is the
    beyond-reference scale path).

    Scale: the at-scale shape for COUNT(DISTINCT) over 100 TB — one
    shuffle to (event_type, register) with map-side partial MAX (state
    is ≤512 rows per key, never the key space), then a 512-row-per-key
    final fold.  Sketches merge by elementwise register max, so
    per-shard sketches combine without re-reading data (the streaming /
    incremental path; merge law pinned in tests/test_sketches.py).
    Exact counts joined for the observed error."""
    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(hll_registers(ev, "event_type", "user_id"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return _hll_report(est, exact)


def _hll_report(est: DataFrame, exact: DataFrame) -> DataFrame:
    return (
        est.withColumnRenamed("key", "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_regs",
            "hll_estimate",
            "exact_distinct",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_error"),
        )
    )


def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch maintained AS STRUCTURED STREAMING STATE: events
    arrive as a file stream and the stateful complete-mode aggregation
    is exactly the mergeable register relation — MAX(rho) per
    (event_type, register), ≤512 rows of state per key forever,
    regardless of how many events flow.  This is the live COUNT
    (DISTINCT) dashboard shape at 100 TB/day: the stream never holds
    the key space, and estimates fold from state alone.  Because
    register max is commutative/idempotent, the result is deterministic
    under any micro-batch arrival order, so the batch HLL oracle
    (HLL_SQL) checks the streaming runtime bit-for-bit."""
    import os

    from chewdata_spark.streaming.ops import run_to_memory

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path + "*")
    regs = hll_registers(
        stream.select("event_type", "user_id"), "event_type", "user_id"
    )
    est = hll_estimate(run_to_memory(regs, "_stream_hll", output_mode="complete"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return _hll_report(est, exact)


_HLL_DIGIT = "strpos('0123456789abcdef', substr(w, 1, 1)) - 1"

HLL_SQL = f"""
WITH h AS (
    SELECT event_type,
           ((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1) % 512 AS reg,
           ltrim(substr(md5(CAST(user_id AS VARCHAR)), 5, 10), '0') AS w
    FROM events
), rr AS (
    SELECT event_type, reg,
           CASE WHEN w = '' THEN 41
                ELSE (10 - length(w)) * 4
                     + CASE WHEN ({_HLL_DIGIT}) >= 8 THEN 0
                            WHEN ({_HLL_DIGIT}) >= 4 THEN 1
                            WHEN ({_HLL_DIGIT}) >= 2 THEN 2
                            ELSE 3 END
                     + 1 END AS rho
    FROM h
), regs AS (
    SELECT event_type, reg, MAX(rho) AS r FROM rr GROUP BY 1, 2
), agg AS (
    SELECT event_type, CAST(COUNT(*) AS INT) AS n_regs,
           SUM(POWER(2.0, -r)) + (512.0 - COUNT(*)) AS denom
    FROM regs GROUP BY 1
), est AS (
    SELECT event_type, n_regs,
           ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / denom <= 1280.0
                           AND 512 - n_regs > 0
                      THEN 512.0 * ln(512.0 / (512.0 - n_regs))
                      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / denom END, 2) AS hll_estimate
    FROM agg
), ex AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1
)
SELECT est.event_type, n_regs, hll_estimate, exact_distinct,
       ROUND(ABS(hll_estimate - exact_distinct) / exact_distinct, 4) AS rel_error
FROM est JOIN ex ON ex.event_type = est.event_type
"""

QUERIES["hll_distinct_users_md5"] = hll_distinct_users_md5
ORACLES["hll_distinct_users_md5"] = HLL_SQL
QUERIES["stream_hll_distinct_users"] = stream_hll_distinct_users
ORACLES["stream_hll_distinct_users"] = HLL_SQL


def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive seasonal decomposition of monthly revenue: the trailing
    12-month moving average (trend) and the deviation from it
    (seasonal+noise).  The window runs AFTER aggregation to month
    cardinality — a documented deliberate single-reducer over ~84 rows,
    never over raw lineitem."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.orderBy("month").rowsBetween(-11, 0)
    # 6 dp, not 2: a 12-month average of 2-decimal revenues lands on
    # .xx5 midpoints where engines' double-rounding modes disagree
    trend = F.round(F.avg("revenue").over(w), 6)
    return monthly.select(
        F.col("month").cast("timestamp").alias("month"),
        "revenue",
        trend.alias("trend_12m"),
        F.round(F.col("revenue") - trend, 6).alias("deviation"),
    )


MONTHLY_TREND_SQL = """
WITH monthly AS (
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY 1
)
SELECT month, revenue,
       ROUND(AVG(revenue) OVER (ORDER BY month
                                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6)
           AS trend_12m,
       ROUND(revenue - ROUND(AVG(revenue) OVER (ORDER BY month
                                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6), 6)
           AS deviation
FROM monthly
"""

QUERIES["monthly_revenue_trend"] = monthly_revenue_trend
ORACLES["monthly_revenue_trend"] = MONTHLY_TREND_SQL


def supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier late-shipment ranking by the Wilson score lower bound
    (95%): the small-sample-honest way to rank binomial rates — a
    supplier with 1/1 on-time must not outrank one with 98/100.
    On-time = shipped within 90 days of the order date (the testdata
    carries no commit/receipt dates — same ship-vs-order delay
    convention as q12/q21).  One join + one aggregation per supplier +
    a pure-expression bound; suppliers with ≥ 10 shipments, worst 25
    by on-time lower bound."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    agg = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= 90, 1
            ).otherwise(0)
        ).alias("on_time"),
    ).filter(F.col("n") >= 10)
    z = 1.959964
    p = F.col("on_time") / F.col("n")
    n = F.col("n").cast("double")
    lb = (
        (p + z * z / (2 * n) - z * F.sqrt((p * (1 - p) + z * z / (4 * n)) / n))
        / (1 + z * z / n)
    )
    scored = agg.select(
        "l_suppkey",
        "n",
        "on_time",
        F.round(lb, 6).alias("wilson_lb"),
    )
    # TakeOrderedAndProject bounds the sort to 25 rows BEFORE the rank
    # window runs (over 25 rows, not all suppliers) — the
    # weighted_sample_es strata-less pattern; a global row_number window
    # here would be a single-reducer sort over the supplier dimension.
    top = scored.orderBy(F.col("wilson_lb").asc(), F.col("l_suppkey").asc()).limit(25)
    w = Window.orderBy(F.col("wilson_lb").asc(), F.col("l_suppkey").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


WILSON_SQL = """
WITH agg AS (
    SELECT l_suppkey, COUNT(*) AS n,
           CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS on_time
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_suppkey
    HAVING COUNT(*) >= 10
),
scored AS (
    SELECT l_suppkey, n, on_time,
           ROUND(
             ((on_time * 1.0 / n) + 1.959964 * 1.959964 / (2.0 * n)
              - 1.959964 * sqrt((((on_time * 1.0 / n) * (1 - on_time * 1.0 / n))
                                 + 1.959964 * 1.959964 / (4.0 * n)) / n))
             / (1 + 1.959964 * 1.959964 / n), 6) AS wilson_lb
    FROM agg
)
SELECT l_suppkey, n, on_time, wilson_lb, CAST(rk AS INT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY wilson_lb ASC, l_suppkey ASC) AS rk
    FROM scored
) WHERE rk <= 25
"""

QUERIES["supplier_reliability"] = supplier_reliability
ORACLES["supplier_reliability"] = WILSON_SQL


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days since last order), frequency
    (order count) and monetary (total spend) per customer, each scored
    1-4 against exact quartile edges — the marketing-analytics classic.
    Edges come from ONE aggregation broadcast back (the equi-depth
    pattern — no ntile, no global sort); scoring is a projection."""
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("_ref"))
    per_cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("_ref"), F.col("o_orderdate"))).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    pct = lambda c: F.percentile(c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    edges = per_cust.agg(
        pct("recency_days").alias("_re"),
        pct("frequency").alias("_fe"),
        pct("monetary").alias("_me"),
    )

    def score(col, e, invert=False):
        s = F.lit(1)
        for i in range(3):
            s = s + F.when(F.col(col) > F.element_at(e, i + 1), 1).otherwise(0)
        return (F.lit(5) - s) if invert else s

    scored = per_cust.crossJoin(F.broadcast(edges)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", "_re", invert=True).cast("int").alias("r_score"),
        score("frequency", "_fe").cast("int").alias("f_score"),
        score("monetary", "_me").cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "champion")
        .when(F.col("r_score") >= 3, "recent")
        .when(F.col("f_score") >= 3, "loyal_lapsing")
        .otherwise("hibernating"),
    )


RFM_SQL = """
WITH ref AS (SELECT MAX(o_orderdate) AS r FROM orders),
per_cust AS (
    SELECT o_custkey,
           CAST(MIN(date_diff('day', o_orderdate, ref.r)) AS INT) AS recency_days,
           COUNT(*) AS frequency,
           ROUND(SUM(o_totalprice), 2) AS monetary
    FROM orders, ref GROUP BY o_custkey, ref.r
),
edges AS (
    SELECT [quantile_cont(recency_days, 0.25), quantile_cont(recency_days, 0.5),
            quantile_cont(recency_days, 0.75)] AS re,
           [quantile_cont(frequency, 0.25), quantile_cont(frequency, 0.5),
            quantile_cont(frequency, 0.75)] AS fe,
           [quantile_cont(monetary, 0.25), quantile_cont(monetary, 0.5),
            quantile_cont(monetary, 0.75)] AS me
    FROM per_cust
),
scored AS (
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(5 - (1 + (CASE WHEN recency_days > re[1] THEN 1 ELSE 0 END)
                       + (CASE WHEN recency_days > re[2] THEN 1 ELSE 0 END)
                       + (CASE WHEN recency_days > re[3] THEN 1 ELSE 0 END)) AS INT) AS r_score,
           CAST(1 + (CASE WHEN frequency > fe[1] THEN 1 ELSE 0 END)
                  + (CASE WHEN frequency > fe[2] THEN 1 ELSE 0 END)
                  + (CASE WHEN frequency > fe[3] THEN 1 ELSE 0 END) AS INT) AS f_score,
           CAST(1 + (CASE WHEN monetary > me[1] THEN 1 ELSE 0 END)
                  + (CASE WHEN monetary > me[2] THEN 1 ELSE 0 END)
                  + (CASE WHEN monetary > me[3] THEN 1 ELSE 0 END) AS INT) AS m_score
    FROM per_cust, edges
)
SELECT *,
       CASE WHEN r_score >= 3 AND f_score >= 3 THEN 'champion'
            WHEN r_score >= 3 THEN 'recent'
            WHEN f_score >= 3 THEN 'loyal_lapsing'
            ELSE 'hibernating' END AS segment
FROM scored
"""

QUERIES["customer_rfm_segments"] = customer_rfm_segments
ORACLES["customer_rfm_segments"] = RFM_SQL


def parts_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: how many parts produce 80% of revenue.

    The running revenue share over ``rev DESC`` is computed WITHOUT any
    window spanning the part dimension (parts is unbounded — 20M rows at
    sf100): rows bucket by equi-depth ``rev`` ranges (255 sketch
    quantile edges, broadcast), each window partitions by bucket, and
    cumulative bucket offsets come from a 256-row aggregate — the
    two-level distributed prefix sum of ``_bucketed_rank``
    (operators/curation.py) generalized to SUM.  The bucket id is a
    monotone function of ``rev`` alone, so the exact total order
    (rev DESC, partkey ASC) is preserved and the cumulative values match
    the single-window formulation bit-for-bit at the 6-dp output
    rounding."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        # round-before-decide: unrounded double sums differ in the last
        # ulp between engines and would flip rank order at ties
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("rev")
    )
    # equi-depth edges: approx sketch (distributed, no exact-percentile
    # single-reducer collect), broadcast back as one row
    edges = per_part.agg(
        F.percentile_approx(
            "rev", F.array(*[F.lit(i / 256.0) for i in range(1, 256)]), F.lit(10000)
        ).alias("_edges"),
        F.sum("rev").alias("_tot"),
        F.count(F.lit(1)).alias("_n"),
    )
    # bucket = number of edges ABOVE rev → ascending bucket ↔ descending
    # rev; equal revs share a bucket, so (rev DESC, partkey ASC) order
    # is exactly the concatenation of buckets in _bkt order
    bucketed = per_part.crossJoin(F.broadcast(edges)).withColumn(
        "_bkt",
        F.size(F.filter("_edges", lambda e: e > F.col("rev"))).cast("int"),
    )
    in_bucket = Window.partitionBy("_bkt").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    local = bucketed.withColumn(
        "_local", F.coalesce(F.sum("rev").over(in_bucket), F.lit(0.0))
    )
    btot = bucketed.groupBy("_bkt").agg(F.sum("rev").alias("_bsum"))
    # unpartitioned window bounded by construction: btot has ≤256 rows
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "_bkt", F.coalesce(F.sum("_bsum").over(off_w), F.lit(0.0)).alias("_off")
    )
    ranked = local.join(F.broadcast(offsets), "_bkt").withColumn(
        "_cum", F.col("_off") + F.col("_local") + F.col("rev")
    )
    needed = ranked.filter(
        (F.col("_cum") - F.col("rev")) / F.col("_tot") < 0.8
    )
    return needed.agg(
        F.count(F.lit(1)).alias("parts_for_80pct"),
        F.round(F.max(F.col("_cum") / F.col("_tot")), 6).alias("share_reached"),
        F.first("_n").alias("total_parts"),
    )


PARETO_SQL = """
WITH per_part AS (
    SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS rev
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, rev,
           SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC) AS cum,
           (SELECT SUM(rev) FROM per_part) AS tot
    FROM per_part
),
needed AS (SELECT * FROM ranked WHERE (cum - rev) / tot < 0.8)
SELECT (SELECT COUNT(*) FROM needed) AS parts_for_80pct,
       (SELECT ROUND(MAX(cum / tot), 6) FROM needed) AS share_reached,
       (SELECT COUNT(*) FROM per_part) AS total_parts
"""

QUERIES["parts_pareto_8020"] = parts_pareto_8020
ORACLES["parts_pareto_8020"] = PARETO_SQL


def table_stats(
    df: DataFrame, cols: list[str], *, exact_ndv: bool = False
) -> DataFrame:
    """ANALYZE-TABLE-style statistics collection — the input a
    cost-based optimizer (join reordering, broadcast thresholds,
    filter selectivity) needs per column: row count, null fraction,
    min/max, and an NDV estimate from the SAME portable HLL sketch as
    hll_distinct_users_md5 — so stats collection is one pass with
    512-register state per column, never a COUNT(DISTINCT) shuffle of
    the value space.

    ``exact_ndv`` (default OFF — the production shape) additionally
    joins the exact ``COUNT(DISTINCT)`` and its relative error: the
    sketch-error AUDIT form the oracle checks.  At 100 TB the exact
    pass is exactly the value-space shuffle this operator exists to
    avoid, so production callers keep the default and the plan carries
    no distinct aggregate (plan-pinned in
    tests/test_plan_quality.py::test_table_stats_production_no_exact_distinct).
    """
    stacked = df.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("bigint").alias("val"),
                    )
                    for c in cols
                ]
            )
        )
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("val").isNull().cast("bigint")).alias("n_nulls"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    ]
    if exact_ndv:
        aggs.append(F.count_distinct("val").alias("exact_ndv"))
    base = stacked.groupBy("col_name").agg(*aggs)
    regs = hll_registers(stacked.filter(F.col("val").isNotNull()), "col_name", "val")
    est = hll_estimate(regs).withColumnRenamed("key", "col_name")
    out_cols = [
        F.col("col_name"),
        F.col("n_rows"),
        F.round(F.col("n_nulls") / F.col("n_rows"), 6).alias("null_frac"),
        F.col("min_val"),
        F.col("max_val"),
        F.col("hll_estimate").alias("ndv_estimate"),
    ]
    if exact_ndv:
        out_cols += [
            F.col("exact_ndv"),
            F.round(
                F.abs(F.col("hll_estimate") - F.col("exact_ndv"))
                / F.col("exact_ndv"),
                4,
            ).alias("ndv_rel_err"),
        ]
    return base.join(est, "col_name").select(*out_cols)


def table_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry audit form of :func:`table_stats` — ``exact_ndv=True``
    over the three most join/filter-relevant lineitem columns so the
    oracle can check the sketch error (production keeps the default
    sketch-only plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return table_stats(li, ["l_orderkey", "l_partkey", "l_suppkey"], exact_ndv=True)


TABLE_STATS_SQL = """
WITH stacked AS (
    SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS BIGINT) AS val FROM lineitem
    UNION ALL
    SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
), base AS (
    SELECT col_name, COUNT(*) AS n_rows,
           SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS n_nulls,
           MIN(val) AS min_val, MAX(val) AS max_val,
           COUNT(DISTINCT val) AS exact_ndv
    FROM stacked GROUP BY 1
), h AS (
    SELECT col_name,
           ((strpos('0123456789abcdef', substr(md5(CAST(val AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substr(md5(CAST(val AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(val AS VARCHAR)), 3, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(md5(CAST(val AS VARCHAR)), 4, 1)) - 1) % 512 AS reg,
           ltrim(substr(md5(CAST(val AS VARCHAR)), 5, 10), '0') AS w
    FROM stacked WHERE val IS NOT NULL
), rr AS (
    SELECT col_name, reg,
           CASE WHEN w = '' THEN 41
                ELSE (10 - length(w)) * 4
                     + CASE WHEN (strpos('0123456789abcdef', substr(w, 1, 1)) - 1) >= 8 THEN 0
                            WHEN (strpos('0123456789abcdef', substr(w, 1, 1)) - 1) >= 4 THEN 1
                            WHEN (strpos('0123456789abcdef', substr(w, 1, 1)) - 1) >= 2 THEN 2
                            ELSE 3 END
                     + 1 END AS rho
    FROM h
), regs AS (
    SELECT col_name, reg, MAX(rho) AS r FROM rr GROUP BY 1, 2
), agg AS (
    SELECT col_name, CAST(COUNT(*) AS INT) AS n_regs,
           SUM(POWER(2.0, -r)) + (512.0 - COUNT(*)) AS denom
    FROM regs GROUP BY 1
), est AS (
    SELECT col_name,
           ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / denom <= 1280.0
                           AND 512 - n_regs > 0
                      THEN 512.0 * ln(512.0 / (512.0 - n_regs))
                      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / denom END, 2) AS hll_estimate
    FROM agg
)
SELECT b.col_name, CAST(b.n_rows AS BIGINT) AS n_rows,
       ROUND(b.n_nulls * 1.0 / b.n_rows, 6) AS null_frac,
       b.min_val, b.max_val,
       est.hll_estimate AS ndv_estimate,
       CAST(b.exact_ndv AS BIGINT) AS exact_ndv,
       ROUND(ABS(est.hll_estimate - b.exact_ndv) / b.exact_ndv, 4) AS ndv_rel_err
FROM base b JOIN est ON est.col_name = b.col_name
"""

QUERIES["table_stats_report"] = table_stats_report
ORACLES["table_stats_report"] = TABLE_STATS_SQL


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The equi-join cardinality formula every CBO runs before picking
    a join order — |A ⨝ B| ≈ |A|·|B| / max(ndv_A, ndv_B) — evaluated
    against ground truth for one FK join (orders⨝customer) and one
    partial-overlap join (events⨝customer: only a sliver of customers
    appear in events — the estimate stays right exactly as long as the
    max-ndv side CONTAINS the other key set, the assumption the audit
    exists to watch).  Stats come
    from count/ndv aggregates (the table_stats_report relation);
    actual counts from the real joins — the audit that tells an
    operator when to trust the planner's arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")

    def stats(df: DataFrame, key: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct(key).alias("ndv")
        )

    def audit(name: str, a: DataFrame, ka: str, b: DataFrame, kb: str) -> DataFrame:
        sa = stats(a, ka).select(
            F.col("n").alias("n_left"), F.col("ndv").alias("ndv_left")
        )
        sb = stats(b, kb).select(
            F.col("n").alias("n_right"), F.col("ndv").alias("ndv_right")
        )
        actual = (
            a.select(F.col(ka).alias("k"))
            .join(b.select(F.col(kb).alias("k")), "k")
            .agg(F.count(F.lit(1)).alias("actual_rows"))
        )
        est = (
            F.col("n_left")
            * F.col("n_right")
            / F.greatest(F.col("ndv_left"), F.col("ndv_right"))
        ).cast("bigint")
        return (
            sa.crossJoin(sb)
            .crossJoin(actual)
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                est.alias("est_rows"),
                "actual_rows",
                F.round(
                    F.abs(est - F.col("actual_rows"))
                    / F.greatest(F.col("actual_rows"), F.lit(1)),
                    4,
                ).alias("rel_err"),
            )
        )

    return audit("orders_customer", orders, "o_custkey", customer, "c_custkey").unionByName(
        audit("events_customer", events, "user_id", customer, "c_custkey")
    )


JOIN_CARD_SQL = """
WITH
oc AS (
    SELECT 'orders_customer' AS join_name,
           (SELECT COUNT(*) FROM orders) AS n_left,
           (SELECT COUNT(*) FROM customer) AS n_right,
           (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_left,
           (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_right,
           (SELECT COUNT(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) AS actual_rows
),
ec AS (
    SELECT 'events_customer' AS join_name,
           (SELECT COUNT(*) FROM events) AS n_left,
           (SELECT COUNT(*) FROM customer) AS n_right,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS ndv_left,
           (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_right,
           (SELECT COUNT(*) FROM events e JOIN customer c ON e.user_id = c.c_custkey) AS actual_rows
),
u AS (SELECT * FROM oc UNION ALL SELECT * FROM ec)
SELECT join_name, n_left, n_right, ndv_left, ndv_right,
       CAST(n_left * n_right / GREATEST(ndv_left, ndv_right) AS BIGINT) AS est_rows,
       actual_rows,
       ROUND(ABS(CAST(n_left * n_right / GREATEST(ndv_left, ndv_right) AS BIGINT)
                 - actual_rows) * 1.0 / GREATEST(actual_rows, 1), 4) AS rel_err
FROM u
"""

QUERIES["join_cardinality_estimate"] = join_cardinality_estimate
ORACLES["join_cardinality_estimate"] = JOIN_CARD_SQL


def parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-dominance query (Börzsönyi et al., ICDE'01):
    the parts no other part beats on BOTH price and size (minimize
    both) — multi-objective shortlisting, the set a buyer actually
    inspects.  Distributed via GRID PRUNING: points bucket into a
    16×16 grid; any cell with an occupied cell strictly down-left of
    it is dominated WHOLESALE (its points can never be skyline), so
    the quadratic dominance check runs only over the surviving
    staircase cells — corpus-size work is one bucketing projection +
    one cell-grain semi-join; the pairwise check touches only
    candidates (pinned: candidate fraction ≤ a few % in tests).
    Dominance: ≤ on both dims, < on at least one; equal points are
    mutually non-dominating and all kept."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    )
    bounds = parts.agg(
        F.min("price").alias("plo"), F.max("price").alias("phi"),
        F.min("size").alias("slo"), F.max("size").alias("shi"),
    )
    g = parts.crossJoin(F.broadcast(bounds)).select(
        "p_partkey", "price", "size",
        F.least(F.floor((F.col("price") - F.col("plo"))
                        / (F.col("phi") - F.col("plo")) * 16).cast("int"), F.lit(15)
                ).alias("ci"),
        F.least(F.floor((F.col("size") - F.col("slo"))
                        / (F.col("shi") - F.col("slo")) * 16).cast("int"), F.lit(15)
                ).alias("cj"),
    )
    cells = g.select("ci", "cj").distinct()
    a = cells.alias("a")
    b = cells.alias("b")
    dominated_cells = (
        a.join(
            b,
            (F.col("b.ci") < F.col("a.ci")) & (F.col("b.cj") < F.col("a.cj")),
            "left_semi",
        )
        .select(F.col("a.ci").alias("ci"), F.col("a.cj").alias("cj"))
    )
    cand = g.join(dominated_cells, ["ci", "cj"], "left_anti")
    c = cand.alias("c")
    d = cand.alias("d")
    dom = (
        (F.col("d.price") <= F.col("c.price"))
        & (F.col("d.size") <= F.col("c.size"))
        & ((F.col("d.price") < F.col("c.price")) | (F.col("d.size") < F.col("c.size")))
    )
    return (
        c.join(d, dom, "left_anti")
        .select(F.col("c.p_partkey").alias("p_partkey"),
                F.col("c.price").alias("price"), F.col("c.size").alias("size"))
    )


SKYLINE_SQL = """
WITH p AS (
    SELECT p_partkey, p_retailprice AS price, p_size AS size FROM part
), bounds AS (
    SELECT MIN(price) AS plo, MAX(price) AS phi, MIN(size) AS slo, MAX(size) AS shi
    FROM p
), g AS (
    SELECT p_partkey, price, size,
           LEAST(CAST(FLOOR((price - plo) / (phi - plo) * 16) AS INT), 15) AS ci,
           LEAST(CAST(FLOOR((size - slo) / (shi - slo) * 16) AS INT), 15) AS cj
    FROM p, bounds
), cells AS (
    SELECT DISTINCT ci, cj FROM g
), live AS (
    SELECT ci, cj FROM cells a
    WHERE NOT EXISTS (SELECT 1 FROM cells b WHERE b.ci < a.ci AND b.cj < a.cj)
), cand AS (
    SELECT g.* FROM g JOIN live USING (ci, cj)
)
SELECT c.p_partkey, c.price, c.size
FROM cand c
WHERE NOT EXISTS (
    SELECT 1 FROM cand d
    WHERE d.price <= c.price AND d.size <= c.size
      AND (d.price < c.price OR d.size < c.size)
)
"""

QUERIES["parts_skyline"] = parts_skyline
ORACLES["parts_skyline"] = SKYLINE_SQL


def kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation cardinality from mergeable sketches (K-Minimum-
    Values / Theta-sketch family, Beyer et al. SIGMOD'07): "how many
    distinct users did BOTH view and purchase" answered from two
    256-value sketches instead of a full distinct-set join.  KMV keeps
    the K smallest hash values of a set; the k-th smallest t estimates
    ndv ≈ (K-1)/t, sketches union by merging value lists (bottom-K of
    the union), and intersections follow by inclusion-exclusion —
    unlike HLL, KMV supports every set operation.  The bottom-K is a
    pure function of the md5 hash (no insertion-order dependence, the
    reason Misra-Gries-style sketches can't be engine-replayed), so
    DuckDB replays the whole estimate bit-for-bit.  Ranking runs on
    the DISTINCT-hash relation (ndv-sized, not corpus-sized); exact
    intersections joined for the observed error."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    K = 256
    u = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("double") / F.lit(float(1 << 48))
    )
    hashes = ev.select("event_type", u.alias("u")).distinct()

    def bottom_k(df: DataFrame, part: str) -> DataFrame:
        w = Window.partitionBy(part).orderBy("u")
        return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)

    def est(df: DataFrame, part: str, out: str) -> DataFrame:
        return df.groupBy(part).agg(
            F.round((F.count(F.lit(1)) - 1) / F.max("u"), 2).alias(out)
        )

    def pair(ta: str, tb: str) -> DataFrame:
        a = bottom_k(hashes.filter(F.col("event_type") == ta), "event_type")
        b = bottom_k(hashes.filter(F.col("event_type") == tb), "event_type")
        ea = est(a, "event_type", "est_a").select("est_a")
        eb = est(b, "event_type", "est_b").select("est_b")
        merged = (
            a.select("u").union(b.select("u")).distinct()
            .select(F.lit("u").alias("g"), "u")
        )
        eu = est(bottom_k(merged, "g"), "g", "est_union").select("est_union")
        users_a = ev.filter(F.col("event_type") == ta).select("user_id").distinct()
        users_b = ev.filter(F.col("event_type") == tb).select("user_id").distinct()
        exact = users_a.join(users_b, "user_id").agg(
            F.count(F.lit(1)).alias("exact_intersection")
        )
        return (
            ea.crossJoin(eb).crossJoin(eu).crossJoin(exact)
            .select(
                F.lit(f"{ta}&{tb}").alias("pair"),
                "est_a",
                "est_b",
                F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 2).alias(
                    "est_intersection"
                ),
                "exact_intersection",
            )
        )

    return pair("view", "purchase").unionByName(pair("click", "error"))


def _kmv_pair_sql(ta: str, tb: str) -> str:
    return f"""
SELECT '{ta}&{tb}' AS pair,
       (SELECT ROUND((COUNT(*) - 1) / MAX(u), 2) FROM (
            SELECT u FROM h WHERE event_type = '{ta}' ORDER BY u LIMIT 256)) AS est_a,
       (SELECT ROUND((COUNT(*) - 1) / MAX(u), 2) FROM (
            SELECT u FROM h WHERE event_type = '{tb}' ORDER BY u LIMIT 256)) AS est_b,
       ROUND(
           (SELECT (COUNT(*) - 1) / MAX(u) FROM (
                SELECT u FROM h WHERE event_type = '{ta}' ORDER BY u LIMIT 256))
         + (SELECT (COUNT(*) - 1) / MAX(u) FROM (
                SELECT u FROM h WHERE event_type = '{tb}' ORDER BY u LIMIT 256))
         - (SELECT (COUNT(*) - 1) / MAX(u) FROM (
                SELECT DISTINCT u FROM h WHERE event_type IN ('{ta}', '{tb}')
                ORDER BY u LIMIT 256)), 2) AS est_intersection,
       (SELECT COUNT(*) FROM
            (SELECT DISTINCT user_id FROM events WHERE event_type = '{ta}') x
            JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = '{tb}') y
            USING (user_id)) AS exact_intersection
"""


KMV_SQL = f"""
WITH h AS (
    SELECT DISTINCT event_type,
           CAST(
             (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16.0
           + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 12, 1)) - 1) AS DOUBLE)
           / 281474976710656.0 AS u
    FROM events
)
{_kmv_pair_sql("view", "purchase")}
UNION ALL
{_kmv_pair_sql("click", "error")}
"""

QUERIES["kmv_set_intersection"] = kmv_set_intersection
ORACLES["kmv_set_intersection"] = KMV_SQL


def multigrain_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users at THREE grains — (event_type, weekday), event_
    type, global — from ONE sketch pass: HLL registers built once at
    the finest grain ROLL UP by re-maxing registers (max is
    associative), so coarser grains cost 512-row-per-group folds
    instead of re-scanning the corpus.  The at-scale replacement for
    multi-grain COUNT(DISTINCT) (which Expand-duplicates every corpus
    row per grain); exact counts joined per grain for observed error.
    Register math identical to hll_distinct_users_md5 → bit-replayable."""
    ev = load_table(spark, sf_dir, "events").select(
        F.concat_ws(
            "|", F.col("event_type"), F.dayofweek(F.col("ts")).cast("string")
        ).alias("fine"),
        "event_type",
        "user_id",
    )
    fine_regs = hll_registers(ev, "fine", "user_id")
    # roll-up 1: event_type grain — re-max registers, no corpus rescan
    type_regs = (
        fine_regs.withColumn("etype", F.split("key", r"\|")[0])
        .groupBy("etype", "reg")
        .agg(F.max("r").alias("r"))
        .select(F.col("etype").alias("key"), "reg", "r")
    )
    # roll-up 2: global grain
    global_regs = (
        fine_regs.groupBy("reg")
        .agg(F.max("r").alias("r"))
        .select(F.lit("ALL").alias("key"), "reg", "r")
    )
    est = (
        hll_estimate(fine_regs)
        .select(F.lit("type_weekday").alias("grain"), "key", "hll_estimate")
        .unionByName(
            hll_estimate(type_regs).select(
                F.lit("type").alias("grain"), "key", "hll_estimate"
            )
        )
        .unionByName(
            hll_estimate(global_regs).select(
                F.lit("global").alias("grain"), "key", "hll_estimate"
            )
        )
    )
    exact = (
        ev.groupBy(F.col("fine").alias("key"))
        .agg(F.count_distinct("user_id").alias("exact"))
        .select(F.lit("type_weekday").alias("grain"), "key", "exact")
        .unionByName(
            ev.groupBy(F.col("event_type").alias("key"))
            .agg(F.count_distinct("user_id").alias("exact"))
            .select(F.lit("type").alias("grain"), "key", "exact")
        )
        .unionByName(
            ev.agg(F.count_distinct("user_id").alias("exact")).select(
                F.lit("global").alias("grain"), F.lit("ALL").alias("key"), "exact"
            )
        )
    )
    return est.join(exact, ["grain", "key"]).select(
        "grain",
        "key",
        "hll_estimate",
        "exact",
        F.round(F.abs(F.col("hll_estimate") - F.col("exact")) / F.col("exact"), 4).alias(
            "rel_err"
        ),
    )


_MG_RHO = """CASE WHEN w = '' THEN 41
                ELSE (10 - length(w)) * 4
                     + CASE WHEN (strpos('0123456789abcdef', substr(w, 1, 1)) - 1) >= 8 THEN 0
                            WHEN (strpos('0123456789abcdef', substr(w, 1, 1)) - 1) >= 4 THEN 1
                            WHEN (strpos('0123456789abcdef', substr(w, 1, 1)) - 1) >= 2 THEN 2
                            ELSE 3 END
                     + 1 END"""

_MG_EST = """SELECT key, n_regs,
           ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / denom <= 1280.0
                           AND 512 - n_regs > 0
                      THEN 512.0 * ln(512.0 / (512.0 - n_regs))
                      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / denom END, 2) AS hll_estimate
    FROM (SELECT key, CAST(COUNT(*) AS INT) AS n_regs,
                 SUM(POWER(2.0, -r)) + (512.0 - COUNT(*)) AS denom
          FROM {src} GROUP BY 1)"""

MULTIGRAIN_HLL_SQL = f"""
WITH ev AS (
    SELECT event_type || '|' || CAST(dayofweek(CAST(ts AS DATE)) + 1 AS VARCHAR) AS fine,
           event_type, user_id
    FROM events
), h AS (
    SELECT fine, event_type,
           ((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1) % 512 AS reg,
           ltrim(substr(md5(CAST(user_id AS VARCHAR)), 5, 10), '0') AS w
    FROM ev
), rr AS (
    SELECT fine, event_type, reg, {_MG_RHO} AS rho FROM h
), fine_regs AS (
    SELECT fine AS key, event_type, reg, MAX(rho) AS r FROM rr GROUP BY 1, 2, 3
), type_regs AS (
    SELECT event_type AS key, reg, MAX(r) AS r FROM fine_regs GROUP BY 1, 2
), global_regs AS (
    SELECT 'ALL' AS key, reg, MAX(r) AS r FROM fine_regs GROUP BY 1, 2
), est AS (
    SELECT 'type_weekday' AS grain, * FROM ({_MG_EST.format(src="fine_regs")})
    UNION ALL
    SELECT 'type', * FROM ({_MG_EST.format(src="type_regs")})
    UNION ALL
    SELECT 'global', * FROM ({_MG_EST.format(src="global_regs")})
), exact AS (
    SELECT 'type_weekday' AS grain, fine AS key, COUNT(DISTINCT user_id) AS exact
    FROM ev GROUP BY 2
    UNION ALL
    SELECT 'type', event_type, COUNT(DISTINCT user_id) FROM ev GROUP BY 2
    UNION ALL
    SELECT 'global', 'ALL', COUNT(DISTINCT user_id) FROM ev
)
SELECT est.grain, est.key, est.hll_estimate, exact.exact,
       ROUND(ABS(est.hll_estimate - exact.exact) / exact.exact, 4) AS rel_err
FROM est JOIN exact ON exact.grain = est.grain AND exact.key = est.key
"""

QUERIES["multigrain_distinct_hll"] = multigrain_distinct_hll
ORACLES["multigrain_distinct_hll"] = MULTIGRAIN_HLL_SQL
