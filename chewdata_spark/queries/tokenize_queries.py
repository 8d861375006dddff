"""Tokenization queries: vocabulary build + token-id sequences over
`documents`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chewdata_spark.operators.tokenize import build_vocab, tokenize_corpus
from chewdata_spark.queries.dedup_queries import _ISLAND_COV_CTES
from chewdata_spark.tables import load_table
from chewdata_spark.queries.bpe_sql import (  # noqa: F401  (re-export)
    _BPE_SA_ITERS,
    _BPE_SA_MIN_PIECES,
    _bpe_doc_pieces_ctes,
    _bpe_iter_sql,
    _bpe_seg_ctes,
)

VOCAB_K = 200
UNK_ID = VOCAB_K  # one past the largest vocab id


def corpus_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K frequency vocabulary with dense ids (count desc, term asc)."""
    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", top_k=VOCAB_K)


VOCAB_SQL = f"""
WITH t AS (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
),
counts AS (SELECT term, COUNT(*) AS term_n FROM t GROUP BY term),
cut AS (SELECT * FROM counts ORDER BY term_n DESC, term ASC LIMIT {VOCAB_K})
SELECT term,
       CAST(ROW_NUMBER() OVER (ORDER BY term_n DESC, term ASC) - 1 AS INT) AS tid,
       term_n
FROM cut
"""


def tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document as its ordered token-id sequence under the
    corpus's own top-K vocabulary (OOV → unk).  The id sequence is
    emitted as a canonical comma-joined string (the driver's pandas
    canonicalizer cannot sort array-valued columns; the oracle
    string_aggs identically)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", top_k=VOCAB_K)
    out = tokenize_corpus(docs, "doc_id", "text", vocab, unk_id=UNK_ID)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), ",").alias(
            "token_ids"
        ),
    )


TOKENIZE_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
    FROM documents
),
t AS (
    SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS pos
    FROM d
),
counts AS (SELECT term, COUNT(*) AS term_n FROM t GROUP BY term),
cut AS (SELECT * FROM counts ORDER BY term_n DESC, term ASC LIMIT {VOCAB_K}),
vocab AS (
    SELECT term,
           CAST(ROW_NUMBER() OVER (ORDER BY term_n DESC, term ASC) - 1 AS INT) AS tid
    FROM cut
)
SELECT t.doc_id,
       CAST(COUNT(*) AS INT) AS n_tokens,
       string_agg(CAST(COALESCE(v.tid, {UNK_ID}) AS VARCHAR), ','
                  ORDER BY t.pos) AS token_ids
FROM t LEFT JOIN vocab v USING (term)
GROUP BY t.doc_id
"""


def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law OLS fit over the top-10k vocabulary —
    operators/tokenize.py::zipf_fit."""
    from chewdata_spark.operators.tokenize import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, "text", top_n=10000)


ZIPF_SQL = """
WITH toks AS (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
),
vocab AS (SELECT term, COUNT(*) AS term_n FROM toks GROUP BY term),
cut AS (SELECT term, term_n FROM vocab ORDER BY term_n DESC, term ASC LIMIT 10000),
ranked AS (
    SELECT term_n,
           ROW_NUMBER() OVER (ORDER BY term_n DESC, term ASC) AS rank
    FROM cut
)
SELECT COUNT(*) AS n_terms,
       ROUND(regr_slope(ln(term_n), ln(rank)), 6) AS slope,
       ROUND(regr_intercept(ln(term_n), ln(rank)), 6) AS intercept,
       ROUND(regr_r2(ln(term_n), ln(rank)), 6) AS r2
FROM ranked
"""


QUERIES = {
    "corpus_vocab_ids": corpus_vocab_ids,
    "tokenize_documents": tokenize_documents,
    "corpus_zipf_fit": corpus_zipf_fit,
}

ORACLES = {
    "corpus_vocab_ids": VOCAB_SQL,
    "tokenize_documents": TOKENIZE_SQL,
    "corpus_zipf_fit": ZIPF_SQL,
}


def countmin_sketch_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of the corpus term frequencies (4 rows × 256
    counters, md5-derived hash per row) — the mergeable streaming
    sketch behind heavy-hitter detection at 100 TB, built as ONE
    aggregation: explode tokens ×4 hash rows (map-side), groupBy
    (row, col) with partial sums; every engine derives identical
    counters because the hash is md5.  Output: (sketch_row, col, cnt)
    — 1024 cells regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    )
    rows = toks.select(
        "term",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("sketch_row"),
    )
    from chewdata_spark.operators.curation import md5_hex16

    col = (
        md5_hex16(
            F.concat_ws("|", F.col("sketch_row").cast("string"), F.col("term"))
        )
        % 256
    )
    return (
        rows.groupBy("sketch_row", col.alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


COUNTMIN_SQL = """
WITH toks AS (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
),
ex AS (
    SELECT term, j.j AS sketch_row,
           md5(CAST(j.j AS VARCHAR) || '|' || term) AS h
    FROM toks, (SELECT unnest(generate_series(0, 3)) AS j) j
)
SELECT CAST(sketch_row AS INT) AS sketch_row,
       CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(h, 4, 1)) - 1) % 256
            AS INT) AS col,
       COUNT(*) AS cnt
FROM ex
GROUP BY 1, 2
"""

QUERIES["countmin_sketch_terms"] = countmin_sketch_terms
ORACLES["countmin_sketch_terms"] = COUNTMIN_SQL


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 2 BPE merge rules trained on the corpus (frequency-weighted
    char-pair counting + greedy left-to-right fusion over the vocab-grain
    symbol relation) — operators/tokenize.py::bpe_merges.  The oracle
    replays both iterations: pair counts, the argmax rule, and the
    gaps-and-islands parity merge."""
    from chewdata_spark.operators.tokenize import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, "text", iters=2)


BPE_SQL = f"""
WITH words AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents)
    WHERE word <> '' GROUP BY 1
), syms1 AS (
    SELECT word, freq, i AS pos, word[i] AS sym
    FROM (SELECT word, freq, unnest(generate_series(1, len(word))) AS i
          FROM words)
), {_bpe_iter_sql(1)}, {_bpe_iter_sql(2)}
SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, pair_count FROM t1
UNION ALL
SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, pair_count FROM t2
"""

QUERIES["bpe_merge_rules"] = bpe_merge_rules
ORACLES["bpe_merge_rules"] = BPE_SQL


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document re-segmented under the corpus's own 2 trained BPE
    merges — operators/tokenize.py::bpe_encode_corpus, the
    tokenizer-APPLICATION half of the BPE pipeline.  The oracle replays
    training (pair counts → argmax rule → parity merge, both
    iterations) AND the encode join verbatim; pieces are canonical
    space-joined strings on both sides."""
    from chewdata_spark.operators.tokenize import bpe_encode_corpus

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_corpus(docs, "doc_id", "text", iters=2)


BPE_ENCODE_SQL = f"""
WITH words AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents)
    WHERE word <> '' GROUP BY 1
), syms1 AS (
    SELECT word, freq, i AS pos, word[i] AS sym
    FROM (SELECT word, freq, unnest(generate_series(1, len(word))) AS i
          FROM words)
), {{iters}}, seg AS (
    SELECT word, CAST(COUNT(*) AS INT) AS n_word_pieces,
           string_agg(sym, ' ' ORDER BY pos) AS seg
    FROM syms3 GROUP BY word
), toks AS (
    SELECT doc_id, pos, word
    FROM (SELECT doc_id, unnest(w) AS word,
                 unnest(range(1, len(w) + 1)) AS pos
          FROM (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS w
                FROM documents))
    WHERE word <> ''
)
SELECT t.doc_id,
       CAST(SUM(s.n_word_pieces) AS INT) AS n_pieces,
       string_agg(s.seg, ' ' ORDER BY t.pos) AS pieces
FROM toks t JOIN seg s ON s.word = t.word
GROUP BY t.doc_id
""".format(iters=f"{_bpe_iter_sql(1)}, {_bpe_iter_sql(2)}")

QUERIES["bpe_encode_documents"] = bpe_encode_documents
ORACLES["bpe_encode_documents"] = BPE_ENCODE_SQL


def fim_transform_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle pretraining transform (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"):
    for a deterministic 50% of long-enough documents, split the text
    into (prefix, middle, suffix) at two coin-picked boundaries and
    re-emit it in PSM order with sentinel tokens, so a causal LM
    learns infilling.  Pure projection — no shuffle, no UDF; split
    points come from the portable md5 coin so the transform (and the
    emitted audit hash) replays bit-for-bit in DuckDB.  At 100 TB this
    is a map-only pass that composes with the curate/pack pipeline."""
    from chewdata_spark.operators.curation import md5_hex16

    docs = load_table(spark, sf_dir, "documents")
    c = lambda salt: md5_hex16(
        F.concat_ws("|", F.lit(salt), F.col("doc_id").cast("string"))
    )
    txt = F.coalesce(F.col("text"), F.lit(""))
    ln = F.length(txt)
    half = F.expr("length(coalesce(text, '')) div 2")
    applied = (ln >= 40) & (c("f0") % 2 == 0)
    s1 = F.lit(1) + c("f1") % F.greatest(half, F.lit(1))
    s2 = half + 1 + c("f2") % (ln - half + 1)
    prefix = F.substring(txt, F.lit(1), s1 - 1)
    middle = F.substring(txt, s1, s2 - s1)
    suffix = F.substring(txt, s2, ln)
    psm = F.concat(
        F.lit("<fim_prefix>"), prefix,
        F.lit("<fim_suffix>"), suffix,
        F.lit("<fim_middle>"), middle,
    )
    return docs.select(
        "doc_id",
        applied.cast("int").alias("fim_applied"),
        F.when(applied, s1 - 1).otherwise(ln).cast("int").alias("prefix_len"),
        F.when(applied, s2 - s1).otherwise(0).cast("int").alias("middle_len"),
        F.when(applied, ln - s2 + 1).otherwise(0).cast("int").alias("suffix_len"),
        F.md5(F.when(applied, psm).otherwise(txt)).alias("out_hash"),
    )


def _fim_sql() -> str:
    from chewdata_spark.queries.curation_queries import _hex16_sql

    coin = lambda salt: _hex16_sql(f"md5('{salt}|' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH base AS (
    SELECT doc_id, COALESCE(text, '') AS t,
           length(COALESCE(text, '')) AS ln,
           length(COALESCE(text, '')) // 2 AS half
    FROM documents
), cuts AS (
    SELECT doc_id, t, ln,
           (ln >= 40 AND ({coin("f0")}) % 2 = 0) AS applied,
           1 + ({coin("f1")}) % GREATEST(half, 1) AS s1,
           half + 1 + ({coin("f2")}) % (ln - half + 1) AS s2
    FROM base
)
SELECT doc_id,
       CAST(applied AS INT) AS fim_applied,
       CAST(CASE WHEN applied THEN s1 - 1 ELSE ln END AS INT) AS prefix_len,
       CAST(CASE WHEN applied THEN s2 - s1 ELSE 0 END AS INT) AS middle_len,
       CAST(CASE WHEN applied THEN ln - s2 + 1 ELSE 0 END AS INT) AS suffix_len,
       md5(CASE WHEN applied
                THEN '<fim_prefix>' || substr(t, 1, s1 - 1)
                     || '<fim_suffix>' || substr(t, s2, ln)
                     || '<fim_middle>' || substr(t, s1, s2 - s1)
                ELSE t END) AS out_hash
FROM cuts
"""


QUERIES["fim_transform_documents"] = fim_transform_documents
ORACLES["fim_transform_documents"] = _fim_sql()


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size sizing curve — the diagnostic behind "how big
    must the tokenizer vocab be": rank terms by corpus frequency and
    report the vocab size needed to cover 50/90/95/99% of all token
    occurrences (the head/tail trade every subword tokenizer budget
    negotiates).  One term-count shuffle, then windows over VOCAB-
    cardinality rows (never the corpus — same boundedness argument as
    corpus_vocab_ids); the cumulative sums are exact integer sums, so
    the thresholds replay in any engine."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    terms = docs.select(
        F.explode(F.split(F.trim(F.lower(F.coalesce("text", F.lit("")))), r"\s+")).alias(
            "term"
        )
    ).filter(F.col("term") != "")
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = counts.select(
        F.row_number().over(w).alias("rk"),
        F.sum("cnt").over(w_cum).alias("cum"),
    )
    total = counts.agg(
        F.sum("cnt").alias("total_tokens"), F.count(F.lit(1)).alias("total_vocab")
    )
    r = ranked.crossJoin(F.broadcast(total))
    share = F.col("cum") / F.col("total_tokens")
    return r.agg(
        F.max("total_tokens").alias("total_tokens"),
        F.max("total_vocab").alias("total_vocab"),
        F.min(F.when(share >= 0.5, F.col("rk"))).alias("vocab_p50"),
        F.min(F.when(share >= 0.9, F.col("rk"))).alias("vocab_p90"),
        F.min(F.when(share >= 0.95, F.col("rk"))).alias("vocab_p95"),
        F.min(F.when(share >= 0.99, F.col("rk"))).alias("vocab_p99"),
    )


VOCAB_COVERAGE_SQL = """
WITH terms AS (
    SELECT unnest(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+')) AS term
    FROM documents
), counts AS (
    SELECT term, COUNT(*) AS cnt FROM terms WHERE term <> '' GROUP BY 1
), ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rk,
           SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM counts
), tot AS (
    SELECT SUM(cnt) AS total_tokens, COUNT(*) AS total_vocab FROM counts
)
SELECT CAST(MAX(total_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(total_vocab) AS BIGINT) AS total_vocab,
       CAST(MIN(CASE WHEN cum * 1.0 / total_tokens >= 0.5 THEN rk END) AS INT) AS vocab_p50,
       CAST(MIN(CASE WHEN cum * 1.0 / total_tokens >= 0.9 THEN rk END) AS INT) AS vocab_p90,
       CAST(MIN(CASE WHEN cum * 1.0 / total_tokens >= 0.95 THEN rk END) AS INT) AS vocab_p95,
       CAST(MIN(CASE WHEN cum * 1.0 / total_tokens >= 0.99 THEN rk END) AS INT) AS vocab_p99
FROM ranked, tot
"""

QUERIES["vocab_coverage_curve"] = vocab_coverage_curve
ORACLES["vocab_coverage_curve"] = VOCAB_COVERAGE_SQL


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit — the vocabulary-GROWTH diagnostic beside
    `corpus_zipf_fit`'s frequency-decay one: regress ln(vocab) on
    ln(tokens) across sources (V = K·N^b, healthy natural text has
    b ≈ 0.4–0.6; b near 0 flags template spam, b near 1 flags
    random-noise corpora).  One tokenize pass to (source, term) grain
    (the count-distinct shuffle every vocab query pays), then the OLS
    runs on SOURCE-cardinality points via the regr_* built-ins, 6-dp
    rounded both engines — the corpus_zipf_fit device."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_vocab"),
    )
    y = F.log(F.col("n_vocab").cast("double"))
    x = F.log(F.col("n_tokens").cast("double"))
    return per_src.agg(
        F.count(F.lit(1)).cast("int").alias("n_sources"),
        F.round(F.regr_slope(y, x), 6).alias("heaps_b"),
        F.round(F.regr_intercept(y, x), 6).alias("heaps_ln_k"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


HEAPS_SQL = r"""
WITH toks AS (
    SELECT source,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
    FROM documents
),
per_src AS (
    SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_vocab
    FROM toks GROUP BY source
)
SELECT CAST(COUNT(*) AS INT) AS n_sources,
       ROUND(regr_slope(ln(n_vocab), ln(n_tokens)), 6) AS heaps_b,
       ROUND(regr_intercept(ln(n_vocab), ln(n_tokens)), 6) AS heaps_ln_k,
       ROUND(regr_r2(ln(n_vocab), ln(n_tokens)), 6) AS r2
FROM per_src
"""

QUERIES["heaps_law_fit"] = heaps_law_fit
ORACLES["heaps_law_fit"] = HEAPS_SQL


def _unigram_paths_sql(vtab: str, idx: int) -> str:
    """One hard-EM round of the unigram-LM oracle: brute-force
    segmentation-path enumeration (recursive CTE) + per-word argmax
    (score desc, seg asc) + hard counts + add-1 re-estimation."""
    return f"""
paths{idx} AS (
    SELECT word, freq, length(word) AS wl, 0 AS pos, CAST(0 AS BIGINT) AS score, '' AS seg FROM w
    UNION ALL
    SELECT p.word, p.freq, p.wl, p.pos + length(v.piece), p.score + v.lp,
           CASE WHEN p.seg = '' THEN v.piece ELSE p.seg || ' ' || v.piece END
    FROM paths{idx} p JOIN {vtab} v
      ON p.pos < p.wl
     AND p.pos + length(v.piece) <= p.wl
     AND substr(p.word, p.pos + 1, length(v.piece)) = v.piece
),
best{idx} AS (
    SELECT word, freq, seg FROM (
        SELECT word, freq, seg,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY score DESC, seg ASC) AS rk
        FROM paths{idx} WHERE pos = wl) WHERE rk = 1
),
c{idx} AS (
    SELECT piece, SUM(freq) AS em_count
    FROM (SELECT freq, unnest(string_split(seg, ' ')) AS piece FROM best{idx})
    GROUP BY 1
),
vb{idx} AS (
    SELECT s.piece, CAST(COALESCE(c{idx}.em_count, 0) AS BIGINT) AS em_count
    FROM seed s LEFT JOIN c{idx} ON c{idx}.piece = s.piece
),
vp{idx} AS (
    SELECT piece, em_count,
           (em_count + 1.0) / ((SELECT CAST(SUM(em_count) AS DOUBLE) FROM vb{idx})
                             + (SELECT CAST(COUNT(*) AS DOUBLE) FROM vb{idx})) AS p
    FROM vb{idx}
),
v{idx + 1} AS (
    SELECT piece, CAST(ROUND(ROUND(ln(p), 6) * 1000000.0, 0) AS BIGINT) AS lp FROM vp{idx}
)"""


def unigram_lm_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece-style hard-EM) —
    operators/tokenize.py::unigram_lm_train.  Spark runs the
    scale-correct Viterbi DP (bounded unrolled joins on the
    length-capped distinct-word relation, integer micro-unit path
    scores); the oracle replays the SAME vocabulary by brute-force
    path enumeration (recursive CTE) + argmax — the verification-twin
    pattern.  Complements `bpe_merge_rules`: the two tokenizer-training
    families real pipelines choose between."""
    docs = load_table(spark, sf_dir, "documents")
    from chewdata_spark.operators.tokenize import unigram_lm_train

    return unigram_lm_train(docs, "text")


UNIGRAM_LM_SQL = f"""
WITH RECURSIVE
w AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)
    WHERE length(word) BETWEEN 1 AND 10
    GROUP BY 1
),
subs AS (
    SELECT substr(word, i, l) AS piece, SUM(freq) AS cnt
    FROM w,
         (SELECT unnest(range(1, 11)) AS i) pos,
         (SELECT unnest(range(1, 5)) AS l) pl
    WHERE i <= length(word) AND i + l - 1 <= length(word)
    GROUP BY 1
),
seed AS (
    SELECT piece, cnt FROM subs WHERE length(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM subs WHERE length(piece) > 1
        ORDER BY cnt DESC, piece ASC LIMIT 200) t
),
v0 AS (
    SELECT piece,
           CAST(ROUND(ROUND(ln(CAST(cnt AS DOUBLE) / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM seed)), 6) * 1000000.0, 0) AS BIGINT) AS lp
    FROM seed
),
{_unigram_paths_sql("v0", 0)},
{_unigram_paths_sql("v1", 1)}
SELECT piece, CAST(length(piece) AS INT) AS piece_len, em_count,
       ROUND(p, 6) AS prob
FROM vp1
"""

QUERIES["unigram_lm_pieces"] = unigram_lm_pieces
ORACLES["unigram_lm_pieces"] = UNIGRAM_LM_SQL


def wordpiece_segments_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match segmentation of the top-150 words
    under the unigram seed vocabulary
    (operators/tokenize.py::wordpiece_segments) — the third tokenizer
    family beside `bpe_merge_rules` and `unigram_lm_pieces`; recursive-
    CTE oracle walks the identical maximal-munch CASE."""
    docs = load_table(spark, sf_dir, "documents")
    from chewdata_spark.operators.tokenize import wordpiece_segments

    return wordpiece_segments(docs, "text")


WORDPIECE_SQL = """
WITH RECURSIVE
w AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)
    WHERE length(word) BETWEEN 1 AND 10
    GROUP BY 1
),
subs AS (
    SELECT substr(word, i, l) AS piece, SUM(freq) AS cnt
    FROM w,
         (SELECT unnest(range(1, 11)) AS i) pos,
         (SELECT unnest(range(1, 5)) AS l) pl
    WHERE i <= length(word) AND i + l - 1 <= length(word)
    GROUP BY 1
),
seed AS (
    SELECT piece FROM subs WHERE length(piece) = 1
    UNION ALL
    SELECT piece FROM (
        SELECT piece FROM subs WHERE length(piece) > 1
        ORDER BY cnt DESC, piece ASC LIMIT 200) t
),
topw AS (
    SELECT word, freq FROM w ORDER BY freq DESC, word ASC LIMIT 150
),
rec(word, freq, pos, seg) AS (
    SELECT word, freq, 1, '' FROM topw
    UNION ALL
    SELECT word, freq, pos + length(piece),
           CASE WHEN seg = '' THEN piece ELSE seg || ' ' || piece END
    FROM (
        SELECT r.word, r.freq, r.pos, r.seg,
               CASE WHEN substr(r.word, r.pos, 4) IN (SELECT piece FROM seed)
                    THEN substr(r.word, r.pos, 4)
                    WHEN substr(r.word, r.pos, 3) IN (SELECT piece FROM seed)
                    THEN substr(r.word, r.pos, 3)
                    WHEN substr(r.word, r.pos, 2) IN (SELECT piece FROM seed)
                    THEN substr(r.word, r.pos, 2)
                    ELSE substr(r.word, r.pos, 1) END AS piece
        FROM rec r WHERE r.pos <= length(r.word)
    )
)
SELECT word, freq, seg AS wp_pieces,
       CAST(len(string_split(seg, ' ')) AS INT) AS n_pieces
FROM rec WHERE pos = length(word) + 1
"""

QUERIES["wordpiece_segments_top"] = wordpiece_segments_top
ORACLES["wordpiece_segments_top"] = WORDPIECE_SQL


def dedup_cut_spans_sa_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-GRAIN suffix-array dedup — the tokenizer family and the SA
    family COMPOSED, the grain Lee et al. 2022 actually run their
    suffix arrays at (BPE token streams, not raw chars): every document
    re-segments under the corpus's own 64 trained BPE merges and whole
    >= 9-PIECE repeats are marked ANYWHERE in each piece stream by the
    TILED token-grain suffix array and cut out
    (operators/suffix.py::cut_repeat_spans_sa_tokens_tiled).  Pieces
    are whitespace-joined and contain no whitespace, so the piece
    string IS a token-grain document and the whole token-SA machinery
    applies verbatim — the same family multiplication as
    ann_matryoshka_ivf_topk.  Scale shape: the 64-merge training runs
    driver-side over the DISTRIBUTED word-count table capped to the
    top-1M vocabulary (operators/tokenize.py::bpe_train_rules — how
    production tokenizer trainers work; 64 distributed rounds would
    pay 64 shuffle latencies for a vocabulary-bounded loop), encode is
    a vocab-grain Arrow UDF plus one join on word
    (bpe_encode_corpus_rules), and the SA stage adds only the tiled
    doubling rounds over ~1.3x the piece count.  Oracle: the
    64-iteration bpe CTE chain (MATERIALIZED per block — inlining is
    exponential) replayed verbatim, then the INDEPENDENT
    duplicated-9-gram coverage algorithm over the piece sequences
    (GROUP BY gram HAVING COUNT >= 2 -> coverage -> cut), never a
    suffix rank."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa_tokens_tiled
    from chewdata_spark.operators.tokenize import (
        bpe_encode_corpus_rules,
        bpe_train_rules,
    )

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe_train_rules(docs, "text", iters=_BPE_SA_ITERS)
    pieces = bpe_encode_corpus_rules(docs, "doc_id", "text", rules).select(
        "doc_id", "pieces"
    )
    # stage boundary: the tiled SA references the piece relation from
    # several stages (tiling, ranks, marks, reassembly) and the
    # upstream is a computed relation (Arrow-UDF encode + join), not a
    # parquet scan — without the boundary the encode re-executes per
    # reference
    pieces = pieces.localCheckpoint(eager=False)
    return cut_repeat_spans_sa_tokens_tiled(
        pieces, "doc_id", "pieces", tile=64, min_tokens=_BPE_SA_MIN_PIECES
    )


BPE_SA_CUT_SQL = _bpe_doc_pieces_ctes(_BPE_SA_ITERS) + """, gg AS (
    SELECT doc_id, off, list_slice(toks, off, off + {gm1}) AS gram
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - {gm1})) AS off
          FROM d WHERE len(toks) >= {g})
), dup AS (
    SELECT gram FROM gg GROUP BY gram HAVING COUNT(*) >= 2
), marked AS (
    SELECT doc_id, off AS s, off + {gm1} AS e FROM gg JOIN dup USING (gram)
)""".format(g=_BPE_SA_MIN_PIECES, gm1=_BPE_SA_MIN_PIECES - 1) + _ISLAND_COV_CTES + """, tpos AS (
    SELECT doc_id, toks[i] AS w, i
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS i FROM d)
), keep AS (
    SELECT t.doc_id,
           COALESCE(string_agg(t.w, ' ' ORDER BY t.i)
                    FILTER (WHERE c.i IS NULL), '') AS clean_text,
           COUNT(*) FILTER (WHERE c.i IS NOT NULL) AS n_cut
    FROM tpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.i
    GROUP BY t.doc_id
), nsp AS (
    SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(COALESCE(n.n_spans, 0) AS INT) AS n_spans,
       CAST(COALESCE(k.n_cut, 0) AS INT) AS n_cut
FROM d a
LEFT JOIN keep k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["dedup_cut_spans_sa_bpe"] = dedup_cut_spans_sa_bpe
ORACLES["dedup_cut_spans_sa_bpe"] = BPE_SA_CUT_SQL


def dedup_incremental_ingest_sa_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE-GRAIN incremental contamination gate — the third grain of
    the ingest family (char / whitespace-token / BPE-piece), matching
    at the grain Lee et al. 2022 match on: every doc re-segments under
    the corpus's own 64 trained merges (bpe_train_rules +
    bpe_encode_corpus_rules — driver-side training over the capped
    distributed word-count table, vocab-grain Arrow-UDF encode), and
    an arriving odd-id doc sharing a whole >= 9-PIECE run with the
    even-id corpus's piece streams drops.  The piece string is a
    token-grain document (pieces contain no whitespace), so the
    token scorer applies verbatim — the same family multiplication as
    dedup_cut_spans_sa_bpe; the 9-piece threshold mirrors its
    derivation (token family gates on 5 whitespace tokens; at 64
    merges this corpus runs ~1.8 pieces/word, so 5 tokens ~ 9
    pieces).  DECLARED head window: the first 64 pieces of each
    stream, the ingest family's convention (char gates 128 chars,
    token gates 32 tokens ~ 58 pieces at 1.8 pieces/token; the
    full-doc deep sweep stays available via the operator's full_doc
    flag).  Docs with no non-empty tokens have no piece stream and
    are not arrivals (encode is an inner join — both engines)."""
    from chewdata_spark.operators.suffix import (
        sa_incremental_contamination_tokens,
    )
    from chewdata_spark.operators.tokenize import (
        bpe_encode_corpus_rules,
        bpe_train_rules,
    )

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe_train_rules(docs, "text", iters=_BPE_SA_ITERS)
    pieces = bpe_encode_corpus_rules(docs, "doc_id", "text", rules).select(
        "doc_id", "pieces"
    )
    # stage boundary: the scorer references each side several times
    # (cap sizes, prefilter, salting, the union) and the upstream here
    # is an EXPENSIVE computed relation, not a parquet scan — without
    # the boundary the whole encode chain re-executes per reference
    # (measured 36 s -> ~6 s at sf0.1)
    pieces = pieces.localCheckpoint(eager=False)
    new = pieces.filter(F.col("doc_id") % 2 == 1)
    seen = pieces.filter(F.col("doc_id") % 2 == 0)
    # bucket_tokens=4, not the token family's 2: at 64 merges a piece
    # is near word grain over a 31-word vocabulary, so 2-piece prefix
    # buckets collapse into ~10^3 hot buckets (measured 27.6 s); 4
    # pieces give ~10^6 possible buckets (5.1 s).  Declared sub-bucket
    # grain: shares shorter than 4 pieces score 0 — irrelevant to the
    # >= 9 decision, mirrored exactly by the oracle.
    # int_alphabet="bounded": the trained-piece vocabulary is merges +
    # distinct base characters — bounded BY CONSTRUCTION, so the
    # "auto" sample pre-screen (an extra corpus-scale job inside the
    # timed construct window) can never fire and is skipped; the full
    # probe still falls back to the bit-identical string path if a
    # Unicode-heavy corpus exceeds max_alphabet (operators/suffix.py::
    # _int_alphabet_encode)
    gate = sa_incremental_contamination_tokens(
        new, seen, "doc_id", "pieces",
        max_tokens=64, min_tokens=_BPE_SA_MIN_PIECES,
        bucket_tokens=4, max_bucket=10_000,
        int_alphabet="bounded",
    )
    return gate.select(
        "doc_id",
        F.col("max_shared_tokens").alias("max_shared_pieces"),
        "kept",
    )


def _ingest_sa_bpe_sql() -> str:
    from chewdata_spark.queries.dedup_queries import _sa_scoring_ctes_tokens

    return _bpe_doc_pieces_ctes(_BPE_SA_ITERS) + _sa_scoring_ctes_tokens(
        new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
        cmp_tokens=64, bucket_tokens=4, max_bucket=10_000,
        rel="d", tk_expr="toks", lead=",",
    ) + """, gate AS (
    SELECT doc_id, MAX(m) AS ms FROM scored GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(COALESCE(g.ms, 0) AS INT) AS max_shared_pieces,
       (COALESCE(g.ms, 0) < {g}) AS kept
FROM (SELECT doc_id FROM d WHERE doc_id % 2 = 1) a
LEFT JOIN gate g USING (doc_id)
""".format(g=_BPE_SA_MIN_PIECES)


QUERIES["dedup_incremental_ingest_sa_bpe"] = dedup_incremental_ingest_sa_bpe
ORACLES["dedup_incremental_ingest_sa_bpe"] = _ingest_sa_bpe_sql()


def contamination_grain_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-GRAIN contamination agreement audit — the artifact that
    tells an operator which single matching grain suffices for their
    corpus: every arriving (odd-id) doc is scored by ALL THREE
    contamination gates — char (>= 30-char shared run, 128-char head),
    whitespace-token (>= 5 tokens, 32-token head), and BPE-piece
    (>= 9 pieces under the corpus's own 64 trained merges, 64-piece
    head) — and each doc any grain flags is reported with its shared
    length AT EVERY grain plus per-grain hit flags and the agreement
    count.  A corpus where ``n_grains`` is always 3 needs only the
    cheapest grain; rows with ``n_grains = 1`` show exactly which
    leaks the other grains would have missed (char catches
    sub-token-boundary overlap; token/BPE catch rephrasing-resistant
    runs the 30-char bar misses in short-word text).  Composition
    only: the three scorers run side by side on the same odd/even
    slice convention as the ingest family, one left-join spine, no
    new machinery.  Scale shape: three independent bucket-scored
    passes (each with its family's cap/prefilter/salt bounds) + three
    broadcast-sized doc-grain joins.  Oracle: the three scoring CTE
    families chained in ONE WITH under distinct prefixes (c_/t_/b_)
    — each an independent per-bucket neighbour replay, never a rank
    replay."""
    from chewdata_spark.operators.suffix import (
        sa_incremental_contamination,
        sa_incremental_contamination_tokens,
    )
    from chewdata_spark.operators.tokenize import (
        bpe_encode_corpus_rules,
        bpe_train_rules,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    cg = sa_incremental_contamination(
        new, seen, "doc_id", "text",
        max_chars=128, min_len=30, bucket_len=8, max_bucket=10_000,
    ).select("doc_id", F.col("max_shared_len").alias("m_char"))
    tg = sa_incremental_contamination_tokens(
        new, seen, "doc_id", "text",
        max_tokens=32, min_tokens=5, bucket_tokens=2, max_bucket=10_000,
        int_alphabet="auto",
    ).select("doc_id", F.col("max_shared_tokens").alias("m_token"))
    rules = bpe_train_rules(docs, "text", iters=_BPE_SA_ITERS)
    pieces = bpe_encode_corpus_rules(docs, "doc_id", "text", rules).select(
        "doc_id", "pieces"
    )
    # stage boundary: the piece scorer references each side several
    # times and the upstream is the computed encode relation
    pieces = pieces.localCheckpoint(eager=False)
    bg = sa_incremental_contamination_tokens(
        pieces.filter(F.col("doc_id") % 2 == 1),
        pieces.filter(F.col("doc_id") % 2 == 0),
        "doc_id", "pieces",
        max_tokens=64, min_tokens=_BPE_SA_MIN_PIECES,
        bucket_tokens=4, max_bucket=10_000,
        # bounded: piece vocabulary <= base chars + merges by
        # construction — skip the sample pre-screen, keep the full
        # probe's bit-identical string fallback (Unicode-heavy
        # corpora push base chars past the cap)
        int_alphabet="bounded",
    ).select("doc_id", F.col("max_shared_tokens").alias("m_piece"))
    spine = new.select("doc_id")
    out = (
        spine.join(cg, "doc_id", "left")
        .join(tg, "doc_id", "left")
        .join(bg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("m_char", F.lit(0)).cast("int").alias("m_char"),
            F.coalesce("m_token", F.lit(0)).cast("int").alias("m_token"),
            F.coalesce("m_piece", F.lit(0)).cast("int").alias("m_piece"),
        )
        .withColumn("hit_char", F.col("m_char") >= 30)
        .withColumn("hit_token", F.col("m_token") >= 5)
        .withColumn("hit_piece", F.col("m_piece") >= _BPE_SA_MIN_PIECES)
        .withColumn(
            "n_grains",
            (
                F.col("hit_char").cast("int")
                + F.col("hit_token").cast("int")
                + F.col("hit_piece").cast("int")
            ).cast("int"),
        )
    )
    return out.filter(F.col("n_grains") >= 1)


def _grain_agreement_sql() -> str:
    from chewdata_spark.queries.dedup_queries import (
        _sa_scoring_ctes,
        _sa_scoring_ctes_tokens,
    )

    return (
        _bpe_doc_pieces_ctes(_BPE_SA_ITERS)
        + _sa_scoring_ctes(
            new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
            cmp_len=128, bucket_len=8, max_bucket=10_000,
            lead=",", prefix="c_",
        )
        + _sa_scoring_ctes_tokens(
            new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
            cmp_tokens=32, bucket_tokens=2, max_bucket=10_000,
            lead=",", prefix="t_",
        )
        + _sa_scoring_ctes_tokens(
            new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
            cmp_tokens=64, bucket_tokens=4, max_bucket=10_000,
            rel="d", tk_expr="toks", lead=",", prefix="b_",
        )
        + """, cgate AS (
    SELECT doc_id, MAX(m) AS m FROM c_scored GROUP BY doc_id
), tgate AS (
    SELECT doc_id, MAX(m) AS m FROM t_scored GROUP BY doc_id
), bgate AS (
    SELECT doc_id, MAX(m) AS m FROM b_scored GROUP BY doc_id
), agr AS (
    SELECT a.doc_id,
           CAST(COALESCE(c.m, 0) AS INT) AS m_char,
           CAST(COALESCE(t.m, 0) AS INT) AS m_token,
           CAST(COALESCE(b.m, 0) AS INT) AS m_piece
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
    LEFT JOIN cgate c USING (doc_id)
    LEFT JOIN tgate t USING (doc_id)
    LEFT JOIN bgate b USING (doc_id)
)
SELECT doc_id, m_char, m_token, m_piece,
       (m_char >= 30) AS hit_char,
       (m_token >= 5) AS hit_token,
       (m_piece >= {g}) AS hit_piece,
       CAST(CAST(m_char >= 30 AS INT) + CAST(m_token >= 5 AS INT)
            + CAST(m_piece >= {g} AS INT) AS INT) AS n_grains
FROM agr
WHERE m_char >= 30 OR m_token >= 5 OR m_piece >= {g}
""".format(g=_BPE_SA_MIN_PIECES)
    )


QUERIES["contamination_grain_agreement"] = contamination_grain_agreement
ORACLES["contamination_grain_agreement"] = _grain_agreement_sql()


_BPE_STREAM_RUN = {"n": 0}


def stream_ingest_dedup_sa_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of dedup_incremental_ingest_sa_bpe — the
    stream x BPE cell of the ingest matrix: odd-id docs arrive as a
    file stream, re-segment under the corpus's 64 trained merges, and
    gate on a whole >= 9-piece run shared with the STATIC even-id
    corpus's piece streams (first-64-piece head windows, the family
    convention).

    Merge rules are trained AHEAD of the stream (batch word count +
    driver loop, exactly the batch twin's trainer over the same full
    corpus file — a tokenizer is fixed before serving); the stream
    side tokenizes ENGINE-SIDE with the shared split expression and
    applies the rules per doc via the map-only Arrow encoder
    (operators/tokenize.py::bpe_pieces_of_tokens_udf — the batch
    encoder's vocab aggregation would be a second stateful operator,
    which structured streaming forbids; a per-batch word cache keeps
    the per-occurrence cost near vocab-grain).  The static side
    pre-aggregates (4-piece bucket -> SORTED seen-suffix array) with
    the shared ``max_bucket`` hot-bucket cap + observe metric, each
    arriving suffix BISECTS its bucket's array for pred/succ
    (``_sa_bs_neighbours`` — token-array comparisons, Spark array
    ordering), and the only stateful operator is the final per-doc
    max (complete mode, availableNow).  Docs with no non-empty tokens
    are not arrivals (the batch twin's encode-join contract), so the
    SAME oracle replays both twins verbatim."""
    import os

    from chewdata_spark.operators.suffix import _TOKEN
    from chewdata_spark.operators.text import _tokens
    from chewdata_spark.operators.tokenize import (
        bpe_encode_corpus_rules,
        bpe_pieces_of_tokens_udf,
        bpe_train_rules,
    )
    from chewdata_spark.queries.dedup_queries import (
        _OBS_SEQ,
        _sa_bs_neighbours,
    )
    from chewdata_spark.streaming.ops import run_to_memory

    max_pieces, bucket_pieces, max_bucket = 64, 4, 10_000
    path = os.path.join(sf_dir, "documents.parquet")
    docs = load_table(spark, sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    rules = bpe_train_rules(docs, "text", iters=_BPE_SA_ITERS)

    # static side: even-id piece streams -> head-window token suffixes
    # -> capped (bucket -> sorted array), the char stream twin's shape
    # one grain up
    seen_suf = (
        bpe_encode_corpus_rules(
            docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", rules
        )
        .select(F.slice(F.split("pieces", " "), 1, max_pieces).alias("t"))
        .select(
            "t", F.explode(F.expr("sequence(1, size(t))")).alias("off")
        )
        .select(F.expr(f"slice(t, off, {max_pieces})").alias("suf"))
        .distinct()
        .withColumn("_bk", F.expr(f"slice(suf, 1, {bucket_pieces})"))
    )
    sizes = seen_suf.groupBy("_bk").agg(
        F.count(F.lit(1)).alias("_n")
    ).observe(
        f"sa_stream_ingest_bpe_{next(_OBS_SEQ)}",
        F.sum(
            F.when(F.col("_n") > max_bucket, F.lit(1)).otherwise(F.lit(0))
        ).alias("dropped_hot_buckets"),
    )
    seen_arr = (
        seen_suf.join(
            sizes.filter(F.col("_n") <= max_bucket).select("_bk"),
            "_bk",
            "left_semi",
        )
        .groupBy("_bk")
        .agg(F.sort_array(F.collect_list("suf")).alias("arr"))
    )

    enc = bpe_pieces_of_tokens_udf(rules)
    stream = (
        spark.readStream.schema(schema)
        .parquet(path + "*")
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            F.filter(_tokens(F.col("text")), lambda w: F.length(w) > 0).alias(
                "_w"
            ),
        )
        .filter(F.size("_w") >= 1)  # no tokens -> not an arrival (both twins)
        # decouple scoring parallelism from the arrival file layout
        # (one narrow doc-grain shuffle, same device as the char twin)
        .repartition(F.col("doc_id"))
        .select("doc_id", F.slice(enc("_w"), 1, max_pieces).alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(F.expr("sequence(1, size(t))")).alias("off"),
        )
        .select(
            "doc_id",
            F.expr(f"slice(t, off, {max_pieces})").alias("suf"),
        )
        .withColumn("_bk", F.expr(f"slice(suf, 1, {bucket_pieces})"))
    )
    joined = stream.join(seen_arr, "_bk", "left")
    nb = _sa_bs_neighbours(joined, max_bucket=max_bucket)
    scored = nb.select(
        "doc_id",
        F.greatest(
            F.when(
                F.col("_pred").isNotNull(), F.expr(_TOKEN.lcp(b="_pred"))
            ).otherwise(0),
            F.when(
                F.col("_succ").isNotNull(), F.expr(_TOKEN.lcp(b="_succ"))
            ).otherwise(0),
        ).alias("_m"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.max("_m").cast("int").alias("max_shared_pieces")
    )
    out = per_doc.select(
        "doc_id",
        "max_shared_pieces",
        (F.col("max_shared_pieces") < _BPE_SA_MIN_PIECES).alias("kept"),
    )
    _BPE_STREAM_RUN["n"] += 1
    # one batch-mode compute of the static side, cached across
    # micro-batches (the stream-static join re-executes it otherwise)
    from pyspark import StorageLevel

    seen_arr.persist(StorageLevel.MEMORY_AND_DISK)
    seen_arr.count()
    try:
        return run_to_memory(
            out, f"_stream_ingest_dedup_sa_bpe_{_BPE_STREAM_RUN['n']}",
            output_mode="complete",
        )
    finally:
        seen_arr.unpersist()


QUERIES["stream_ingest_dedup_sa_bpe"] = stream_ingest_dedup_sa_bpe
# the bisected array neighbours equal the batch scorer's window
# neighbours (greatest seen <= suf / least seen > suf), so the batch
# twin's oracle replays the stream verbatim
ORACLES["stream_ingest_dedup_sa_bpe"] = _ingest_sa_bpe_sql()
