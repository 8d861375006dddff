"""Corpus-curation operators for LLM training pipelines.

Beyond dedup (operators/dedup.py) and surface quality (operators/text.py),
a production pretraining pipeline needs: benchmark decontamination,
repetition-based quality filters (Gopher-style), deterministic sampling,
sequence packing, and statistical LM scoring.  Each operator here is
expressed with built-in functions only (no Python row path) and
documents its shuffle structure for the 100 TB case.

Tokenization matches operators/text.py `_tokens` (trim+lower+split on
whitespace) so the whole curation surface agrees on token boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chewdata_spark.operators.text import _tokens


def _word_ngrams(text_col: str, n: int) -> Column:
    """All word n-grams of the text (space-joined) as one array column;
    docs shorter than ``n`` words collapse to one whole-text gram.

    Interpreted HOF — fine for per-doc array math on short line/gram
    arrays, but the corpus-wide hot paths use :func:`gram_rows`
    (posexplode + lead, whole-stage codegen — measured ~4× faster at
    sf0.1)."""
    w = _tokens(F.col(text_col))
    count = F.greatest(F.size(w) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )


def gram_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """One word n-gram per row, ``(doc_id, g)``, duplicates preserved.

    posexplode(split) + window ``lead`` stays in whole-stage codegen,
    and the window's hash-partitioning on doc_id is reused by every
    downstream ``groupBy(doc_id…)`` — one token-level shuffle total.
    Same semantics as :func:`_word_ngrams` (trim+lower tokens, short
    docs yield one whole-text gram)."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w", i).over(w) for i in range(1, n)]
    sh = ex.withColumn("g", F.concat_ws(" ", F.col("w"), *leads))
    sh = sh.withColumn("_last", F.lead("w", n - 1).over(w)).filter(
        F.col("_last").isNotNull() | (F.col("pos") == 0)
    )
    return sh.select("doc_id", "g")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out benchmark/eval set (the standard
    13-gram overlap test from LM training pipelines, ``n`` scaled to the
    corpus).  Returns ``(doc_id, n_hit_grams)`` for contaminated docs.

    Scale shape: the benchmark is eval data — MBs, not TBs — so its
    distinct gram set is **broadcast**; the training side is codegen
    gram rows (:func:`gram_rows`) + broadcast-semi-join +
    ``groupBy(doc_id)``, where the distinct and the count both reuse the
    gram window's doc_id partitioning — one token-level shuffle total,
    no matter how big the training corpus is.  Grams join on md5
    (fixed-width keys) rather than raw text.
    """
    bench_grams = (
        gram_rows(benchmark, id_col, text_col, n)
        .select(F.md5("g").alias("gram_key"))
        .distinct()
    )
    doc_grams = (
        gram_rows(docs, id_col, text_col, n)
        .select("doc_id", F.md5("g").alias("gram_key"))
        .distinct()
    )
    hits = doc_grams.join(F.broadcast(bench_grams), "gram_key")
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hit_grams"))


def ngram_novelty(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """Per-probe-document n-gram novelty: the fraction of each probe
    document's distinct word ``n``-grams that appear NOWHERE in the
    corpus — the memorization/novelty diagnostic (Lee et al. 2022;
    Carlini et al.'s verbatim-copy probe runs this with generations as
    the probe and training data as the corpus).

    Scale shape — the inverse of :func:`decontaminate`: here the PROBE
    is the small side (an eval slice or a batch of generations) and the
    corpus is the 100 TB side, so the probe's distinct gram keys are
    **broadcast**, the corpus side streams its gram rows past that
    broadcast (inner join) and emits only the tiny intersected key set,
    and the per-document novelty join is a second broadcast of that
    intersection.  The corpus is never shuffled; the only wide ops are
    on probe-sized relations.  Grams join on md5 (fixed-width keys).
    Returns ``(doc_id, n_grams, n_novel, novelty)`` for every probe doc
    that yields at least one gram."""
    probe_grams = (
        gram_rows(probe, id_col, text_col, n)
        .select("doc_id", F.md5("g").alias("gram_key"))
        .distinct()
    )
    probe_keys = probe_grams.select("gram_key").distinct()
    seen = (
        gram_rows(corpus, id_col, text_col, n)
        .select(F.md5("g").alias("gram_key"))
        .join(F.broadcast(probe_keys), "gram_key")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    return (
        probe_grams.join(F.broadcast(seen), "gram_key", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).alias("n_novel"),
        )
        .withColumn("novelty", F.round(F.col("n_novel") / F.col("n_grams"), 6))
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style within-document repetition signals:

    - ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line (0 for single-line docs),
    - ``dup_trigram_frac`` — fraction of word trigrams that are
      duplicates within the doc,
    - ``top_bigram_frac`` — fraction of all bigram slots taken by the
      single most frequent bigram.

    The line stat is a pure projection (line arrays are short); the
    gram stats run on codegen gram rows (:func:`gram_rows`) where the
    per-(doc, gram) count, the distinct count and the final join are all
    keyed by doc_id — the window's partitioning is reused, so each gram
    size costs one token-level shuffle and the stats join without a
    reshuffle.
    """
    lines = F.split(F.col(text_col), r"\n")
    proj = df.select(
        F.col(id_col).alias("doc_id"),
        F.round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.greatest(F.size(lines), F.lit(1)).cast("double"),
            6,
        ).alias("dup_line_frac"),
    )
    tri = (
        gram_rows(df, id_col, text_col, 3)
        .groupBy("doc_id")
        .agg(
            F.round(
                (F.count(F.lit(1)) - F.count_distinct("g"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_trigram_frac")
        )
    )
    top = (
        gram_rows(df, id_col, text_col, 2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_bigram_frac"))
    )
    return proj.join(tri, "doc_id").join(top, "doc_id")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    *,
    seq_len: int = 512,
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are laid
    end-to-end in ``id_col`` order and cut into fixed ``seq_len`` token
    sequences.  Returns per doc: global ``start_offset``, the first and
    last sequence index it lands in, and how many sequences it spans.

    Scale shape — the global running offset is a distributed prefix
    sum, NOT a single-partition window: ``repartitionByRange`` on the id
    gives a range-sorted layout, each partition computes its local
    cumulative sum (window keyed by partition id), per-partition totals
    (one tiny row per partition) come to the driver for the exclusive
    prefix scan, and the offsets join back via a broadcast of
    O(num_partitions) rows.  Offsets depend only on the total order of
    ids, so the (sampled, nondeterministic) range boundaries never
    change the answer.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("doc_id"), token_count_col.cast("long").alias("n_tokens")
    ).repartitionByRange(num_partitions, "doc_id")
    base = base.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy("doc_id")
    base = base.withColumn("__local_cum", F.sum("n_tokens").over(w))
    totals = base.groupBy("__pid").agg(F.sum("n_tokens").alias("t")).collect()
    prefix: dict[int, int] = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        prefix[row["__pid"]] = acc
        acc += row["t"]
    prefix_df = spark.createDataFrame(
        [(pid, off) for pid, off in prefix.items()], "__pid int, __prefix long"
    )
    out = base.join(F.broadcast(prefix_df), "__pid")
    start = F.col("__prefix") + F.col("__local_cum") - F.col("n_tokens")
    end = F.col("__prefix") + F.col("__local_cum")
    return out.select(
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / seq_len).cast("int").alias("first_seq"),
        F.floor((end - 1) / seq_len).cast("int").alias("last_seq"),
        (F.floor((end - 1) / seq_len) - F.floor(start / seq_len) + 1)
        .cast("int")
        .alias("n_seqs"),
    )


def hex_threshold(rate: float) -> str:
    """Keep-rate → 4-char string compared against the first 4 hex chars
    of md5.  rate ≥ 1.0 saturates to ``"g000"`` (lexicographically above
    every hex string, so everything is kept — ``"10000"`` would sort
    BELOW most hashes and silently drop them)."""
    v = int(round(rate * 65536))
    return "g000" if v >= 65536 else format(max(v, 0), "04x")


def md5_hex16(col: Column) -> Column:
    """First 16 bits of ``md5(col)`` as an int (0..65535) — the single
    engine-portable coin behind every deterministic sampling / sketch /
    split decision here; the SQL oracles mirror it with strpos
    arithmetic over the first 4 hex chars.  Centralized so a future
    widening/salting change happens in exactly one place."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    *,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the data-mixing step of
    a pretraining pipeline (e.g. keep 100% of en, 25% of zh).

    The keep decision is ``md5(key) < threshold(stratum)`` on the first
    16 bits of the hex digest, NOT ``rand()``: re-runs, task retries and
    engine changes all reproduce the exact same sample, and the filter
    is a pure projection (zero shuffle) that composes with pushdown.
    """
    hash16 = F.substring(F.md5(F.col(key_col).cast("string")), 1, 4)
    expr = F.lit(hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items(), reverse=True):
        expr = F.when(F.col(strata_col) == stratum, F.lit(hex_threshold(rate))).otherwise(expr)
    return df.filter(hash16 < expr)


def weighted_mix(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key_col: str,
    *,
    default_weight: float = 1.0,
) -> DataFrame:
    """Epoch-weighted corpus mixture — the UPSAMPLING half of a
    pretraining data mix that :func:`stratified_sample` (rates ≤ 1)
    cannot express: weight 2.5 emits every row twice plus a
    deterministic half-sample third copy; weight 0.25 emits a quarter
    sample.  Output gains an ``epoch`` column (1-based copy index) so
    downstream shuffling/packing can keep copies apart.

    Scale shape: a generate+filter projection — ``explode(sequence)``
    to ceil(weight) copies then a hash-threshold keep — zero shuffle,
    zero state, composes with column pruning.  The keep decision salts
    the key with the epoch (``md5(key || ':' || epoch)``), so partial
    copies are independent samples and re-runs/task retries are
    bit-reproducible (no ``rand()``).
    """
    if any(w < 0 for w in weights.values()) or default_weight < 0:
        raise ValueError("mixture weights must be >= 0")
    w_expr = F.lit(float(default_weight))
    for stratum, w in sorted(weights.items(), reverse=True):
        w_expr = F.when(F.col(strata_col) == stratum, F.lit(float(w))).otherwise(w_expr)
    n_copies = F.ceil("_w").cast("bigint")
    # weight 0 must DROP the stratum: sequence(1, 0) would descend
    # ([1, 0]) instead of being empty, so gate the explode
    copies = F.when(n_copies >= 1, F.sequence(F.lit(1).cast("bigint"), n_copies)).otherwise(
        F.array().cast("array<bigint>")
    )
    out = df.withColumn("_w", w_expr).withColumn("epoch", F.explode(copies))
    frac_hash = F.substring(
        F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.col("epoch"))), 1, 4
    )
    # same saturation rule as hex_threshold: a fractional part that
    # rounds to 65536 must keep ~everything, and "%04x" of 65536 is the
    # 5-char "10000" which sorts BELOW most hashes (silent ~15/16 drop)
    frac_v = F.round((F.col("_w") % 1) * 65536).cast("int")
    frac_thr = F.when(frac_v >= 65536, F.lit("g000")).otherwise(
        F.format_string("%04x", F.greatest(frac_v, F.lit(0)))
    )
    keep = (F.col("epoch") <= F.floor("_w")) | (frac_hash < frac_thr)
    return out.filter(keep).drop("_w")


def _bucketed_rank(
    hashed: DataFrame,
    part_cols: list[str],
    key_col: str,
    *,
    bucket_len: int = 4,
) -> DataFrame:
    """1-based rank within ``part_cols`` ordered by ``(_h, key_col)``
    as a two-level distributed prefix sum — the shared machinery of
    :func:`shard_shuffle` / :func:`stratum_quota` /
    :func:`length_bucket_batches`.

    ``hashed`` must carry a hex ``_h`` column.  The corpus-sized window
    partitions by (part_cols, ``_b`` = first ``bucket_len`` chars of
    ``_h``) — a string PREFIX, so bucket order agrees with ``_h``
    order; the cumulative bucket offsets come from a tiny per-bucket
    aggregate.  No window partition ever spans a whole part.  Adds
    ``_rank``; temp columns are dropped (``_h`` is left for callers).
    """
    bucketed = hashed.withColumn("_b", F.substring("_h", 1, bucket_len))
    local = F.row_number().over(
        Window.partitionBy(*part_cols, "_b").orderBy("_h", key_col)
    )
    ranked = bucketed.withColumn("_r", local)
    counts = bucketed.groupBy(*part_cols, "_b").agg(F.count(F.lit(1)).alias("_n"))
    off_w = (
        Window.partitionBy(*part_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *part_cols, "_b", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    return (
        ranked.join(offsets, [*part_cols, "_b"])
        .withColumn("_rank", F.col("_off") + F.col("_r"))
        .drop("_b", "_r", "_off")
    )


def shard_shuffle(
    df: DataFrame,
    key_col: str,
    *,
    num_shards: int = 16,
    seed: str = "0",
) -> DataFrame:
    """Deterministic training-order shuffle: documents land in
    ``num_shards`` shards (≤65536) with a pseudo-random position inside
    each — the shape a trainer consumes (one file per shard, rows
    pre-shuffled) without ever materializing a GLOBAL order.

    ``md5(seed:key)`` drives both decisions, so the layout is
    bit-reproducible across reruns, retries and engines (no
    ``rand()``/``zipWithIndex``).  ``pos`` is the exact per-shard rank
    by ``(_h, key)`` but is NEVER computed as one shard-wide sort
    (≥400 GB in a single task at 100 TB).  Instead, a two-level
    distributed prefix sum:

    1. window rank inside a fine 6-hex-char bucket of ``_h`` (16.7M
       buckets — each a sliver of a shard; the bucket is a string
       PREFIX of ``_h``, so bucket order agrees with ``_h`` order, and
       it extends the 4 shard digits, so bucket → shard);
    2. per-bucket counts (map-side combine to ≤16^6 tiny rows) turn
       into bucket start offsets via a cumulative sum over that tiny
       aggregate; ``pos = offset + local rank``.  The offsets join on
       the bucket key reuses the window's hash partitioning.

    Reshuffling between epochs = change ``seed``.
    """
    if not 1 <= num_shards <= 65536:
        raise ValueError(f"num_shards must be in [1, 65536], got {num_shards}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))

    def digit(i: int) -> Column:
        # hex-char value via position in the alphabet: portable to any
        # SQL engine (no conv()/strtol divergence)
        return F.expr(f"locate(substring(_h, {i}, 1), '0123456789abcdef') - 1")

    shard_v = digit(1) * 4096 + digit(2) * 256 + digit(3) * 16 + digit(4)
    hashed = df.withColumn("_h", h).withColumn(
        "shard", (shard_v % num_shards).cast("int")
    )
    # 6-char buckets: extends the 4 shard digits, so bucket → shard and
    # the (shard, bucket) window partitions stay slivers of a shard
    return (
        _bucketed_rank(hashed, ["shard"], key_col, bucket_len=6)
        .withColumn("pos", F.col("_rank").cast("bigint"))
        .drop("_h", "_rank")
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Statistical language-model quality score: mean log-probability of
    the document's tokens under the corpus's own unigram distribution
    (the cheap stand-in for a KenLM perplexity filter).

    ONE corpus explode: tokens pre-aggregate to ``(doc_id, term, tf)``
    — both the vocabulary branch and the scoring branch hang off that
    identical exchange subtree, so Spark's ReusedExchange computes the
    explode+shuffle once.  The token total is SUM(term_n) over the
    already-aggregated vocab (a one-row broadcast), never a separate
    ``count()`` scan of the corpus.  The per-term join moves doc-term
    pairs, not raw tokens; the vocab side broadcasts when it fits (AQE).
    Result: ``(doc_id, n_tokens, avg_logprob)``.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    doc_term = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = doc_term.groupBy("term").agg(F.sum("tf").alias("term_n"))
    total = vocab.agg(F.sum("term_n").alias("_total"))
    scored = (
        doc_term.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tf",
            (F.col("tf") * F.log(F.col("term_n") / F.col("_total"))).alias("lp_sum"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("n_tokens"),
        F.round(F.sum("lp_sum") / F.sum("tf"), 6).alias("avg_logprob"),
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    *,
    val_frac: float = 0.025,
    test_frac: float = 0.025,
    salt: str = "split",
) -> DataFrame:
    """Deterministic held-out split assignment: every row gains a
    ``split`` column ('train' | 'val' | 'test') decided by the first
    16 bits of ``md5(salt | key)`` against the cumulative fraction
    thresholds — the same engine-independent coin as
    :func:`stratified_sample`, so re-runs, retries and other engines
    reproduce the identical split (and a document can never migrate
    between splits across pipeline runs — the leakage failure mode of
    ``rand()``-based splitting).  Pure projection: zero shuffle.
    """
    h = F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string"))), 1, 4
    )
    t_test = hex_threshold(test_frac)
    t_val = hex_threshold(test_frac + val_frac)
    split = (
        F.when(h < F.lit(t_test), F.lit("test"))
        .when(h < F.lit(t_val), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def filter_by_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    drop_frac: float = 0.1,
) -> DataFrame:
    """Perplexity-style quality gate: score every document with
    :func:`unigram_logprob` and drop the worst ``drop_frac`` of the
    corpus (lowest mean token log-probability — the CCNet/KenLM
    filtering recipe with the corpus's own unigram LM as the model).

    The threshold is the exact ``drop_frac`` quantile of the per-doc
    scores: one extra single-row aggregate broadcast back — no sort of
    the corpus, no collect.  Returns the surviving manifest
    ``(doc_id, n_tokens, avg_logprob)``.
    """
    scores = unigram_logprob(df, id_col, text_col)
    thr = scores.agg(
        F.percentile("avg_logprob", F.lit(drop_frac)).alias("_thr")
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .filter(F.col("avg_logprob") >= F.col("_thr"))
        .select("doc_id", "n_tokens", "avg_logprob")
    )


def stratum_quota(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    *,
    max_per_stratum: int,
    seed: str = "0",
) -> DataFrame:
    """Cap every stratum at ``max_per_stratum`` rows — the anti-
    domination step of corpus assembly (no single crawl dump / source
    may swamp the mix).  Selection is the first N rows per stratum in
    deterministic ``md5(seed:key)`` order, so re-runs, retries and
    engines agree on the exact survivor set (no ``rand()``).

    A stratum can hold billions of rows, so the per-stratum rank is the
    same two-level prefix sum as :func:`shard_shuffle` — row_number
    inside a 4-hex-char hash bucket plus cumulative bucket offsets from
    a tiny aggregate — never one window partition per stratum (a
    single-task sort of the largest source at 100 TB).
    """
    if max_per_stratum < 1:
        raise ValueError(f"max_per_stratum must be >= 1, got {max_per_stratum}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))
    hashed = df.withColumn("_h", h)
    return (
        _bucketed_rank(hashed, [strata_col], key_col)
        .filter(F.col("_rank") <= max_per_stratum)
        .drop("_h", "_rank")
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    *,
    batch_size: int = 8,
    seed: str = "0",
) -> DataFrame:
    """Length-grouped batching: documents bucket by power-of-two token
    length, then batch WITHIN their bucket — the padding-efficiency
    layout (batchmates share a length band, so pad-to-longest wastes
    <2×, not worst-case) used by training and batch-inference loaders.

    Order within a bucket is seeded-md5 (deterministic shuffle, no
    rand()); the in-bucket rank is the :func:`shard_shuffle` two-level
    prefix sum — row_number inside a 4-hex hash sub-bucket plus tiny
    cumulative offsets — so no single task ever sorts a whole length
    bucket.  Returns the input plus (n_tokens, len_bucket, batch_idx,
    slot) where ``batch_idx`` counts batches within the bucket and
    ``slot`` is the 0-based position inside the batch.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    hashed = (
        df.withColumn("n_tokens", token_count_col.cast("bigint"))
        .withColumn(
            "len_bucket",
            F.floor(F.log2(F.greatest(F.col("n_tokens"), F.lit(1)))).cast("int"),
        )
        .withColumn("_h", h)
    )
    rank = F.col("_rank") - 1  # 0-based within bucket
    return (
        _bucketed_rank(hashed, ["len_bucket"], id_col)
        .withColumn("batch_idx", F.floor(rank / batch_size).cast("bigint"))
        .withColumn("slot", (rank % batch_size).cast("int"))
        .drop("_h", "_rank")
    )


def packed_sequence_map(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    *,
    seq_len: int = 512,
) -> DataFrame:
    """The consumable form of :func:`pack_sequences`: one row per
    (sequence, document) fragment — which token range of which doc
    fills which slots of each fixed-length training sequence.  This is
    the attention-mask / document-boundary metadata a packed-training
    loader reads.

    A pure explode over the pack_sequences output (each doc spans
    ``n_seqs`` sequences): zero additional shuffles.  Returns
    (seq_id, doc_id, seq_start, doc_offset, length) with seq_start the
    fragment's first slot inside the sequence and doc_offset its first
    token inside the document.
    """
    # zero-token docs have last_seq < first_seq; sequence() would
    # DESCEND and emit phantom fragments — they own no slots, drop them
    packed = pack_sequences(df, id_col, token_count_col, seq_len=seq_len).filter(
        F.col("n_tokens") > 0
    )
    s = F.col("seq_id")
    doc_start = F.col("start_offset")
    doc_end = doc_start + F.col("n_tokens")  # exclusive
    tok_start = F.greatest(s * seq_len, doc_start)
    tok_end = F.least((s + 1) * seq_len, doc_end)
    return (
        packed.withColumn(
            "seq_id", F.explode(F.sequence(F.col("first_seq"), F.col("last_seq")))
        )
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "doc_id",
            (tok_start - s * seq_len).cast("int").alias("seq_start"),
            (tok_start - doc_start).cast("bigint").alias("doc_offset"),
            (tok_end - tok_start).cast("int").alias("length"),
        )
    )


def weighted_sample_es(
    df: DataFrame,
    key_col: str,
    weight: Column,
    *,
    strata_col: str | None = None,
    k: int = 20,
    salt: str = "es",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): each row draws the deterministic uniform
    ``u = (hex16(md5(salt|key)) + 1) / 65537`` and scores
    ``ln(u) / weight``; the top-``k`` scores (per stratum if given) are
    the sample — rows with higher weight win proportionally more often,
    yet the draw is an md5 coin, so retries, re-runs and other engines
    select the identical sample (the ``rand()``-free analogue of
    reservoir sampling).  Scores round to 6 dp with a total
    (score, key) tie-break before ranking.

    One projection + one top-k window per stratum (bounded partitions);
    at corpus scale the per-stratum rank is TakeOrdered-shaped, never a
    global sort.  Adds ``es_key`` and ``sample_rank``.
    """
    u = (
        md5_hex16(
            F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string"))
        ).cast("double")
        + 1.0
    ) / 65537.0
    scored = df.withColumn("es_key", F.round(F.log(u) / weight, 6))
    if strata_col is None:
        # global sample: TakeOrdered bounds the sort to k rows before
        # the rank window (which then runs over k rows, not the corpus
        # — a strata-less partitionBy would be a single-reducer window)
        scored = scored.orderBy(
            F.col("es_key").desc(), F.col(key_col).asc()
        ).limit(k)
        w = Window.orderBy(F.col("es_key").desc(), F.col(key_col).asc())
        return scored.withColumn(
            "sample_rank", F.row_number().over(w).cast("int")
        )
    w = Window.partitionBy(strata_col).orderBy(
        F.col("es_key").desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


def synthetic_classifier_weights(
    spark, *, dim: int = 256, salt: str = "qw"
) -> DataFrame:
    """Deterministic stand-in for a TRAINED linear-classifier weight
    table ``(dim, w)`` with ``w ∈ (-1, 1)``: ``w = hex16(md5(salt|dim))
    / 65535 * 2 - 1``.  Real pipelines load fasttext/logreg weights
    from a table; this generates a bit-reproducible fake with the same
    shape so the scoring plumbing (broadcast join, hashed features) is
    exercised end-to-end and SQL oracles can replay it exactly."""
    return spark.range(dim).select(
        F.col("id").cast("int").alias("dim"),
        F.round(
            md5_hex16(F.concat_ws("|", F.lit(salt), F.col("id").cast("string")))
            / 65535.0
            * 2
            - 1,
            6,
        ).alias("w"),
    )


def hashed_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    *,
    dim: int = 256,
) -> DataFrame:
    """Linear text-classifier scoring over hashed bag-of-words features
    — the fasttext-style quality-filter inference step of a pretraining
    pipeline, without any ML library at inference time.

    Each token maps to feature ``hex16(md5(token)) % dim`` with sign
    ``±1`` from the token hash's 5th hex digit (the hashing trick's
    collision-bias correction); the document score is
    ``sigmoid(Σ sign·w[feature] / n_tokens)``.

    Plan: one token explode → pre-aggregate to (doc, feature, signed
    tf) — partitioning reused by the final doc aggregate — then a
    BROADCAST join against the ``dim``-row weight table.  No UDFs, no
    collect; scores round to 6 dp so any engine replays them.
    Returns ``(doc_id, n_tokens, clf_score, keep)`` with
    ``keep = clf_score >= 0.5``.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"),
    )
    sign_digit = F.expr(
        "instr('0123456789abcdef', substring(md5(term), 5, 1)) - 1"
    )
    feat = toks.select(
        "doc_id",
        (md5_hex16(F.col("term")) % dim).alias("dim"),
        F.when(sign_digit % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    doc_feat = feat.groupBy("doc_id", "dim").agg(
        F.sum("sign").alias("s"), F.count(F.lit(1)).alias("tf")
    )
    # LEFT join + zero default: a trained weight table may legitimately
    # omit pruned dims — an inner join would silently drop those tokens
    # from BOTH the dot product and n_tokens, biasing every score
    scored = (
        doc_feat.join(F.broadcast(weights), "dim", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.sum(F.col("s") * F.coalesce(F.col("w"), F.lit(0.0))).alias("_dot"),
        )
    )
    logit = F.col("_dot") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("clf_score"),
    ).withColumn("keep", F.col("clf_score") >= 0.5)


def classifier_score_expr(
    text_col: str, weight_map: dict[int, float], dim: int
) -> Column:
    """``hashed_classifier_score``'s sigmoid score as ONE per-row
    expression: ``sigmoid(Σ sign·w[feature] / n_tokens)`` folded over
    the token array with the weight table inlined as a literal map —
    the stream-capable form (no explode, no per-doc aggregation, no
    join back; a streaming relation can filter on it directly).

    Same hashing, sign rule, zero-default for pruned dims, and 6-dp
    rounding as the relational path; the only difference is FP
    summation order (per-token fold vs per-feature partial sums),
    which the rounding absorbs.  ``weight_map`` is bounded by ``dim``
    (the hashing-trick feature space, typically 256-4096) — a literal
    map of that size is broadcast-scale by construction."""
    pairs = [
        F.lit(x) for d, w in sorted(weight_map.items()) for x in (d, float(w))
    ]
    mp = F.create_map(*pairs) if pairs else F.create_map()
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")

    def term(acc: Column, t: Column) -> Column:
        sign_digit = (
            F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(t), 5, 1))
            - 1
        )
        sign = F.when(sign_digit % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        feat = md5_hex16(t) % dim
        return acc + sign * F.coalesce(mp[feat], F.lit(0.0))

    logit = F.aggregate(toks, F.lit(0.0), term) / F.size(toks)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def _nb_doc_features(
    df: DataFrame, id_col: str, text_col: str, label: Column, *, dim: int
) -> DataFrame:
    """(doc_id, pos, dim, tf): hashed-BOW term frequencies per document
    with the boolean training label carried alongside — the one
    corpus-scan relation both NB training and NB scoring consume.

    The label is evaluated at DOC grain behind a lazy localCheckpoint
    BEFORE the token explode.  Without the barrier, CollapseProject
    hoists the whole label expression (which may be O(doc_len), e.g.
    ``array_distinct(split(text))`` inside the quality heuristic) above
    the Generate, re-executing it once per TOKEN — O(len²) per doc.
    The checkpoint materializes (doc_id, pos, text) exactly once, so
    the Generate's parent Project only references the stored boolean."""
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        label.cast("boolean").alias("pos"),
        F.trim(F.lower(F.col(text_col))).alias("_text"),
    ).localCheckpoint(eager=False)
    toks = docs.select(
        "doc_id", "pos", F.explode(F.split(F.col("_text"), r"\s+")).alias("term")
    )
    return toks.groupBy(
        "doc_id", "pos", (md5_hex16(F.col("term")) % dim).alias("dim")
    ).agg(F.count(F.lit(1)).alias("tf"))


def _nb_weights(doc_feat: DataFrame, *, dim: int) -> DataFrame:
    """Closed-form multinomial-NB log-odds weights from the hashed
    feature relation: ``w[f] = ln((c⁺f+1)/(T⁺+dim)) −
    ln((c⁻f+1)/(T⁻+dim))`` (add-1 / Laplace smoothing).  All dims
    0..dim-1 are emitted (a dim unseen in training still carries the
    smoothing-only weight).  Totals are WINDOW sums over the dim-grain
    relation — never a second corpus pass — and the unpartitioned
    window is bounded by ``dim`` rows by construction."""
    bucket = doc_feat.groupBy("dim").agg(
        F.sum(F.when(F.col("pos"), F.col("tf")).otherwise(0)).alias("pos_tf"),
        F.sum(F.when(~F.col("pos"), F.col("tf")).otherwise(0)).alias("neg_tf"),
    )
    spark = doc_feat.sparkSession
    full = (
        spark.range(dim)
        .select(F.col("id").cast("int").alias("dim"))
        .join(F.broadcast(bucket), "dim", "left")
        .select(
            "dim",
            F.coalesce("pos_tf", F.lit(0)).cast("bigint").alias("pos_tf"),
            F.coalesce("neg_tf", F.lit(0)).cast("bigint").alias("neg_tf"),
        )
    )
    w_all = Window.partitionBy()
    return full.select(
        "dim",
        F.round(
            F.log(
                (F.col("pos_tf") + 1.0)
                / (F.sum("pos_tf").over(w_all) + float(dim))
            )
            - F.log(
                (F.col("neg_tf") + 1.0)
                / (F.sum("neg_tf").over(w_all) + float(dim))
            ),
            6,
        ).alias("w"),
        "pos_tf",
        "neg_tf",
    )


def nb_train_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label: Column,
    *,
    dim: int = 256,
) -> DataFrame:
    """Multinomial Naive Bayes TRAINING over hashed bag-of-words
    features, entirely closed-form — the learned-quality-filter
    training step of a pretraining pipeline (CCNet/fastText-style
    distillation of a heuristic label into a linear model) with no ML
    library: NB's MLE is just smoothed count ratios, so training is one
    groupBy/agg plus log arithmetic and is exactly SQL-replayable.

    The produced ``(dim, w, pos_tf, neg_tf)`` table is a drop-in for
    the broadcast weight relation :func:`hashed_classifier_score`-style
    scorers consume (NB scores with raw tf; see :func:`nb_train_infer`).

    Scale: ONE corpus token pass pre-aggregated map-side to the
    ``dim``-bounded bucket relation; class totals are window sums over
    those ≤``dim`` rows; output is ``dim`` rows however large the
    corpus.  Beyond-reference operator (the reference has no trainable
    step; its closest surface is the static quality heuristics at
    src/updater/tera.rs helpers)."""
    return _nb_weights(
        _nb_doc_features(df, id_col, text_col, label, dim=dim), dim=dim
    )


def nb_train_infer(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label: Column,
    *,
    dim: int = 256,
) -> DataFrame:
    """Train the hashed multinomial NB on ``label`` and score every
    document with it — the composed train→infer loop in one lazy plan.

    ``score = ln((N⁺+1)/(N⁻+1)) + Σ_f tf_f · w_f`` (class prior from
    add-1-smoothed doc counts, then the log-odds dot product);
    ``pred = score >= 0``.  The hashed feature relation is computed
    ONCE (lazy localCheckpoint) and feeds training, the doc-grain
    prior, and the scoring join — a single corpus scan end-to-end;
    weights and the one-row prior ride broadcasts.
    Returns ``(doc_id, n_tokens, nb_score, pred)``.
    """
    doc_feat = _nb_doc_features(df, id_col, text_col, label, dim=dim).localCheckpoint(
        eager=False
    )
    weights = _nb_weights(doc_feat, dim=dim)
    prior = (
        doc_feat.select("doc_id", "pos")
        .distinct()
        .agg(
            F.sum(F.col("pos").cast("bigint")).alias("_np"),
            F.sum((~F.col("pos")).cast("bigint")).alias("_nn"),
        )
        .select(
            F.log((F.col("_np") + 1.0) / (F.col("_nn") + 1.0)).alias("_prior")
        )
    )
    scored = (
        doc_feat.join(F.broadcast(weights.select("dim", "w")), "dim")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w")).alias("_dot"),
        )
    )
    return scored.crossJoin(F.broadcast(prior)).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_prior") + F.col("_dot"), 6).alias("nb_score"),
    ).withColumn("pred", F.col("nb_score") >= 0)


def dsir_log_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    *,
    dim: int = 4096,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like it is under hashed unigram LMs —
    ``log w(x) = Σ_tokens [log p_target(b) - log p_raw(b)]`` where
    ``b = hex16(md5(token)) % dim`` and both distributions are add-1
    smoothed over the ``dim`` hashed buckets.

    Plan: the token explode pre-aggregates to (doc, bucket, tf); BOTH
    LM distributions come from ONE conditional bucket aggregate of that
    subtree, whose totals branch collapses to a ReusedExchange — the
    corpus is exploded twice total (scoring + stats; pinned ≤ 2 in
    tests/test_plan_quality.py), never per-distribution.  No vocabulary
    is materialized (the hashed-LM trick bounds state at ``dim``
    regardless of corpus size).  Returns
    ``(doc_id, n_tokens, log_importance)`` rounded to 6 dp, higher =
    more target-like.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        is_target.alias("_tgt"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"),
    ).select("doc_id", "_tgt", (md5_hex16(F.col("term")) % dim).alias("b"))
    doc_bucket = toks.groupBy("doc_id", "_tgt", "b").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # ONE bucket aggregate carries both distributions (a filtered
    # target branch would let Catalyst push the _tgt filter below the
    # exchange, making the subtrees non-identical and defeating
    # ReusedExchange — measured: 4 corpus explodes instead of 1)
    bucket = doc_bucket.groupBy("b").agg(
        F.sum("tf").alias("n_raw"),
        F.sum(F.when(F.col("_tgt"), F.col("tf")).otherwise(0)).alias("n_tgt"),
    )
    tots = bucket.agg(
        F.sum("n_raw").alias("_traw"), F.sum("n_tgt").alias("_ttgt")
    )
    stats = bucket.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            F.log((F.col("n_tgt") + 1) / (F.col("_ttgt") + dim))
            - F.log((F.col("n_raw") + 1) / (F.col("_traw") + dim))
        ).alias("lr"),
    )
    # LEFT join (stats covers every bucket, so ≡ inner) + grouping by
    # (doc_id, _tgt): an inner join would push isnotnull(b) below the
    # aggregate and the pruned column set would differ — either breaks
    # canonical equality of the (doc_id, _tgt, b) exchange and defeats
    # ReusedExchange (measured: extra corpus explodes)
    return (
        doc_bucket.join(F.broadcast(stats), "b", "left")
        .groupBy("doc_id", "_tgt")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * F.col("lr")), 6).alias("log_importance"),
        )
        .select("doc_id", "n_tokens", "log_importance")
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Bigram-LM quality score with add-1 smoothing — one step closer
    to the KenLM perplexity filter than :func:`unigram_logprob`:
    ``score(doc) = mean over positions of log p(w_i | w_{i-1})`` with
    ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)``, V = vocabulary size.

    Plan: ONE token explode; bigrams form from a per-doc ``lead``
    window (doc-keyed partitions, no self-join), pre-aggregated to
    (doc, w1, w2, tf) so the bigram-count join moves doc-bigram pairs
    — never raw positions.  Unigram counts and V ride a ≤vocab-sized
    relation (AQE broadcasts when it fits).  Returns
    ``(doc_id, n_bigrams, avg_bigram_logprob)`` rounded to 6 dp.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("w2", F.lead("w").over(win))
        .filter(F.col("w2").isNotNull())
        .groupBy("doc_id", F.col("w").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    uni = toks.groupBy(F.col("w").alias("w1")).agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = uni.agg(F.count(F.lit(1)).alias("_v"))
    bic = bi.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    scored = (
        bi.join(bic, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf")
                * F.log((F.col("c12") + 1) / (F.col("c1") + F.col("_v")))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("n_bigrams"),
        F.round(F.sum("lp") / F.sum("tf"), 6).alias("avg_bigram_logprob"),
    )


def doremi_source_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    strata_col: str,
    *,
    temperature: float = 1.0,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "Doremi:
    Optimizing Data Mixtures"): upweight the domains the reference
    model finds HARD.  The excess-loss proxy here is the corpus's own
    unigram LM — a domain's deficit is (corpus mean avg_logprob −
    domain mean avg_logprob), and mixture weights are the softmax
    ``exp(deficit / T) / Σ`` over domains.

    Plan: the per-doc score pipeline is :func:`unigram_logprob` (one
    token explode); everything after is domain-grain (bounded strata) —
    two tiny aggregates ride one-row / |domains|-row broadcasts.
    Deficits derive from 6-dp-ROUNDED means (round-before-decide) so
    any engine replays the weights.  Returns
    ``(stratum, n_docs, mean_logprob, weight)``.
    """
    scores = unigram_logprob(df, id_col, text_col)
    src = df.select(
        F.col(id_col).alias("doc_id"), F.col(strata_col).alias("stratum")
    )
    per_src = (
        scores.join(src, "doc_id")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_logprob"), 6).alias("mean_logprob"),
        )
    )
    corpus = scores.agg(F.round(F.avg("avg_logprob"), 6).alias("_cm"))
    raw = per_src.crossJoin(F.broadcast(corpus)).withColumn(
        "_raw", F.exp((F.col("_cm") - F.col("mean_logprob")) / temperature)
    )
    tot = raw.agg(F.sum("_raw").alias("_tot"))
    return raw.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_docs",
        "mean_logprob",
        F.round(F.col("_raw") / F.col("_tot"), 6).alias("weight"),
    )


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a web URL for URL-level dedup — the first
    dedup stage of a CommonCrawl-style pipeline (one fetch record per
    logical page before any text is compared; cf. reference's
    curl-connector URL handling, src/connector/curl.rs, which treats
    URLs as opaque).  Pure string built-ins, so the identical math
    replays in the DuckDB oracle:

    - drop the ``#fragment``
    - lowercase scheme and host (never the path)
    - strip the scheme's default port (``:443`` https / ``:80`` http)
      and a leading ``www.``
    - drop tracking params (``utm_*``, ``fbclid``, ``gclid``), sort
      the survivors for order-insensitivity
    - strip trailing slashes; bare authority renders as ``/``
    """
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1))
    host = F.when(scheme == "https", F.regexp_replace(host, ":443$", "")).otherwise(
        F.regexp_replace(host, ":80$", "")
    )
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(u, r"\?(.*)$", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda x: (x != "")
                & ~x.startswith("utm_")
                & ~x.startswith("fbclid=")
                & ~x.startswith("gclid="),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )


def sa_curate_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    benchmark: DataFrame | None = None,
    grain: str = "char",
    tile: int = 128,
    min_len: int = 30,
    compare_cap: int = 64,
    bucket_len: int = 8,
    max_bucket: int = 10_000,
    bpe_iters: int = 64,
    quota_col: str | None = None,
    max_per_stratum: int = 15,
    carry: list[str] | None = None,
) -> DataFrame:
    """The Lee et al. 2022 curation pipeline as ONE reusable lazy plan
    — the shared core behind the ``curate_pipeline_full_sa`` /
    ``curate_pipeline_decontam_sa`` / ``curate_pipeline_decontam_sa_bpe``
    flagship queries AND the config compiler's ``curate`` step
    (``method: sa_pipeline``), so the JSON-config surface and the
    query registry run the SAME code:

    normalize → corpus-global line dedup → checkpoint boundary →
    full-document whole-repeat span marks (tiled suffix array,
    >= ``min_len`` units repeated anywhere WITHIN the training text)
    [∪ contamination marks: >= ``min_len``-unit runs shared with the
    normalized ``benchmark`` slice, when one is given] → ONE island
    merge + ONE splice → optional per-``quota_col`` anti-domination
    quota.

    ``grain``: ``"char"`` (units = characters, Lee et al.'s 30-char
    criterion), ``"token"`` (units = whitespace tokens — the grain
    Lee et al. actually match on; ``min_len`` counts tokens and
    ``bucket_len`` counts prefix TOKENS), or ``"bpe"`` (units = BPE
    pieces under ``bpe_iters`` merges trained on the CURATED training
    text; the benchmark slice encodes under the training tokenizer,
    ``min_len`` counts pieces, ``bucket_len`` counts prefix pieces,
    and the scorer runs int-alphabet — the trained-piece vocabulary
    is bounded by construction).  ``carry`` columns re-join from
    ``docs`` onto the output (doc-grain broadcast-sized join).

    Returns ``(id_col, *carry, clean_text, [n_spans, n_cut])`` —
    span evidence only when a ``benchmark`` decontamination stage ran
    (the repeat-only char path matches ``curate_pipeline_full_sa``'s
    contract and omits it).  At BPE grain ``clean_text`` is the
    cleaned PIECE STREAM (the token-grain training artifact).
    """
    from chewdata_spark.operators import dedup as D
    from chewdata_spark.operators.suffix import (
        _GRAINS,
        _cut_spans,
        _marks,
        _merge_islands,
    )
    from chewdata_spark.operators.text import normalize_text

    g = _GRAINS.get(grain)
    if g is None:
        raise ValueError(
            f"sa_curate_corpus grain must be char|token|bpe, got {grain!r}"
        )
    carry = carry or []
    norm = normalize_text(docs, id_col, text_col).select(
        F.col(id_col).alias("doc_id"), F.col("norm_text").alias("text")
    )
    lined = D.dedup_lines_global(norm, "doc_id", "text", min_words=5).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # ONE stage boundary: every downstream mark family and the splice
    # consume this relation — truncate lineage so normalize+line-dedup
    # run once (the flagships' device)
    lined = lined.localCheckpoint(eager=False)
    evaln = None
    if benchmark is not None:
        # benchmark normalizes under the SAME pass (one canonical
        # form) but is never line-deduped or cut — eval text stays
        # verbatim
        evaln = normalize_text(benchmark, id_col, text_col).select(
            F.col(id_col).alias("doc_id"), F.col("norm_text").alias("text")
        )
    train, bench, col = lined, evaln, "text"
    if g.pieces:
        train, bench = _bpe_pieces(lined, evaln, bpe_iters)
        col = "pieces"

    # the tiled repeat operator already returns MERGED islands — with
    # no benchmark re-merging would add a redundant window + groupBy
    spans = g.tiled(train, col, tile, min_len)
    if bench is not None:
        scored = g.scores(
            train, bench, col, compare_cap, min_len, bucket_len, max_bucket,
            g.alphabet,
        )
        rmarks = spans.select(
            "doc_id",
            F.col("span_start").alias("s"),
            F.col("span_end").alias("e"),
        )
        spans = _merge_islands(
            rmarks.unionByName(_marks(scored, "m", min_len))
        )
    evidence = ["n_spans", "n_cut"] if bench is not None or g.evidence else []
    decon = _cut_spans(g, train, "doc_id", col, spans).select(
        "doc_id", "clean_text", *evidence
    )

    joined = decon
    if carry:
        joined = decon.join(
            docs.select(F.col(id_col).alias("doc_id"), *carry), "doc_id"
        )
    out = joined
    if quota_col:
        out = stratum_quota(
            joined, quota_col, "doc_id", max_per_stratum=max_per_stratum
        )
    out = out.select("doc_id", *carry, "clean_text", *evidence)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def _bpe_pieces(
    lined: DataFrame, evaln: DataFrame | None, iters: int
) -> tuple[DataFrame, DataFrame | None]:
    """BPE ``iters`` merges trained on the curated training text; both
    sides encode to ``(doc_id, pieces)`` under those rules.
    Independent lazy checkpoints per piece relation: each feeds several
    scorer branches; measured faster than a union encode (see
    curate_pipeline_decontam_sa_bpe's in-code note)."""
    from chewdata_spark.operators.tokenize import (
        bpe_encode_corpus_rules,
        bpe_train_rules,
    )

    rules = bpe_train_rules(lined, "text", iters=iters)

    def encode(df: DataFrame) -> DataFrame:
        return bpe_encode_corpus_rules(df, "doc_id", "text", rules).select(
            "doc_id", "pieces"
        ).localCheckpoint(eager=False)

    return encode(lined), None if evaln is None else encode(evaln)
