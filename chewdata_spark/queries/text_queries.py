"""Text-analysis operators as verifiable queries over `documents`.

DuckDB type notes: len()/length() return BIGINT there but INT in Spark
— oracles cast to INT so schemas line up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chewdata_spark.operators import text
from chewdata_spark.tables import load_table


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics (chars, tokens, punctuation, uniques)."""
    return text.text_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


TEXT_STATS_SQL = """
WITH d AS (
    SELECT doc_id, text,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           CAST(length(text) AS INT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_punct
    FROM documents
)
SELECT doc_id, n_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       ROUND(CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks), 6) AS avg_token_len,
       ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       CAST(len(list_distinct(toks)) AS INT) AS n_unique_tokens
FROM d
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language identification per document."""
    return text.language_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _lang_score_sql(markers: list[str]) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_intersect(toks, {arr}))"


def _language_id_sql() -> str:
    langs = sorted(text.LANG_MARKERS.items())
    scores = ", ".join(f"{_lang_score_sql(m)} AS s_{code}" for code, m in langs)
    # fold in module order: later languages win only on strictly greater score
    best, best_score = f"'{langs[0][0]}'", f"s_{langs[0][0]}"
    for code, _ in langs[1:]:
        best = f"CASE WHEN s_{code} > {best_score} THEN '{code}' ELSE {best} END"
        best_score = f"CASE WHEN s_{code} > {best_score} THEN s_{code} ELSE {best_score} END"
    return f"""
WITH d AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), s AS (
    SELECT doc_id, {scores} FROM d
)
SELECT doc_id, CASE WHEN {best_score} > 0 THEN {best} ELSE 'und' END AS lang_pred
FROM s
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite 0-1 surface quality score (length / punctuation / diversity)."""
    return text.quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


QUALITY_SQL = """
WITH d AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
)
SELECT doc_id,
       ROUND(0.4 * least(CAST(n_chars AS DOUBLE) / 200.0, 1.0)
           + 0.3 * (1 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 5.0, 1.0))
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)), 6) AS quality
FROM d
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts per document."""
    return text.token_counts(load_table(spark, sf_dir, "documents"), "doc_id", "text")


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{text.TOKEN_PATTERN}')) AS INT) AS re_tokens
FROM documents
"""


def content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words md5 fingerprint per document."""
    return text.content_fingerprint(load_table(spark, sf_dir, "documents"), "doc_id", "text")


FINGERPRINT_SQL = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fingerprint
FROM documents
"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks per document (RAG windowing)."""
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", chunk_size=50, overlap=10
    )


# chunk i covers words [i*40+1 .. i*40+50] (1-based inclusive in DuckDB);
# n_chunks = greatest(ceil((len-10)/40), 1)
CHUNK_SQL = """
WITH d AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
), g AS (
    SELECT doc_id, w, CAST(unnest(range(0, greatest(CAST(ceil((len(w) - 10) / 40.0) AS BIGINT), 1))) AS INT) AS chunk_idx
    FROM d
)
SELECT doc_id, chunk_idx,
       array_to_string(w[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ') AS chunk_text,
       CAST(len(w[chunk_idx * 40 + 1 : chunk_idx * 40 + 50]) AS INT) AS n_tokens
FROM g
"""


def parts_in_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: per part, how many other parts price within ±10."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.rangejoin import banded_range_join

    part = load_table(spark, sf_dir, "part")
    a = part.select(F.col("p_partkey").alias("k_a"), F.col("p_retailprice").alias("price_a"))
    b = part.select(F.col("p_partkey").alias("k_b"), F.col("p_retailprice").alias("price_b"))
    pairs = banded_range_join(a, b, "price_a", "price_b", max_distance=10.0).filter(
        F.col("k_a") != F.col("k_b")
    )
    counts = pairs.groupBy("k_a").agg(F.count(F.lit(1)).alias("n_within"))
    return (
        a.join(counts, "k_a", "left")
        .select(F.col("k_a").alias("p_partkey"), F.coalesce("n_within", F.lit(0)).alias("n_within"))
    )


PRICE_BAND_SQL = """
SELECT a.p_partkey, COUNT(b.p_partkey) AS n_within
FROM part a
LEFT JOIN part b
  ON b.p_partkey <> a.p_partkey
 AND abs(a.p_retailprice - b.p_retailprice) <= 10
GROUP BY a.p_partkey
"""


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining filter funnel (lang + quality + token band +
    exact dedup) as ONE pass — inline signal projections, single
    md5-window shuffle (see text.curate_corpus)."""
    return text.curate_corpus(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _curate_sql() -> str:
    # compose the standalone oracles; identical text ⟹ identical signals,
    # so ranking duplicates over ALL docs is equivalent to ranking the
    # kept subset (the Spark plan filters first)
    return f"""
WITH l AS (SELECT * FROM ({_language_id_sql()})),
     q AS (SELECT * FROM ({QUALITY_SQL})),
     t AS (SELECT * FROM ({TOKEN_COUNTS_SQL})),
     d AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents)
SELECT l.doc_id, l.lang_pred, q.quality, t.ws_tokens AS n_tokens
FROM l JOIN q USING (doc_id) JOIN t USING (doc_id) JOIN d USING (doc_id)
WHERE l.lang_pred = 'en' AND q.quality >= 0.75
  AND t.ws_tokens BETWEEN 20 AND 5000 AND d.rn = 1
"""


def documents_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over the corpus: emails/IPv4s/phones →
    typed placeholders + per-type hit counts (zero-shuffle projection)."""
    return text.redact_pii(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _redact_sql() -> str:
    # lockstep with text.PII_PATTERNS: same patterns, same order
    red = "text"
    counts = []
    for name, pat, repl in text.PII_PATTERNS:
        p = pat.replace("'", "''")
        counts.append(f"CAST(len(regexp_extract_all(text, '{p}')) AS INT) AS n_{name}")
        red = f"regexp_replace({red}, '{p}', '{repl}', 'g')"
    return f"SELECT doc_id, {red} AS redacted, {', '.join(counts)} FROM documents"


def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 terms by frequency (one term shuffle,
    TakeOrdered top-k — no global sort materializes)."""
    return text.corpus_top_terms(load_table(spark, sf_dir, "documents"), "text", k=20)


TOP_TERMS_SQL = """
SELECT term, n FROM (
    SELECT term, COUNT(*) AS n FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        FROM documents
    ) WHERE term != '' GROUP BY term
) ORDER BY n DESC, term ASC LIMIT 20
"""


def documents_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (short / punct-heavy / nav-shaped
    lines dropped) with a kept-share quality signal — zero-shuffle
    higher-order-function projection."""
    return text.strip_boilerplate(load_table(spark, sf_dir, "documents"), "doc_id", "text")


STRIP_BOILERPLATE_SQL = """
WITH l AS (
    SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
), k AS (
    SELECT doc_id, lines,
           list_filter(lines, ln ->
               len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> w <> '')) >= 4
               AND length(regexp_replace(ln, '[^A-Za-z]', '', 'g'))
                   / greatest(length(ln), 1) >= 0.5
               AND NOT (NOT regexp_matches(ln, '[.!?]\\s*$')
                        AND NOT regexp_matches(ln, '(^|\\s)[a-z]'))
           ) AS kept
    FROM l
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(lines) - len(kept) AS INT) AS n_dropped,
       ROUND(len(kept) / greatest(len(lines), 1), 6) AS content_frac
FROM k
"""


def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints of every document — see
    operators/text.py::winnowing_fingerprints for the window/join plan."""
    from chewdata_spark.operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "doc_id", "text", k=5, w=4)


# identical construction: md5 of positional 5-grams, per-start MIN over
# the next 4 gram hashes (partial trailing windows only at pos 0, the
# short-doc guarantee), rightmost position of each window's min
WINNOWING_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
    FROM documents
),
grams AS (
    SELECT doc_id, i - 1 AS pos,
           md5(array_to_string(list_slice(arr, i, i + 4), ' ')) AS h
    FROM (SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr) - 4)) AS i
          FROM toks WHERE len(arr) >= 5)
),
starts AS (
    SELECT doc_id, pos AS s,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
           lead(pos, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS full_w
    FROM grams
),
kept AS (
    SELECT doc_id, s, wmin FROM starts WHERE full_w IS NOT NULL OR s = 0
),
cand AS (
    SELECT k.doc_id, k.s, k.wmin, g.pos
    FROM (SELECT doc_id, s, wmin, s + unnest(generate_series(0, 3)) AS pos
          FROM kept) k
    JOIN grams g ON g.doc_id = k.doc_id AND g.pos = k.pos AND g.h = k.wmin
)
SELECT DISTINCT doc_id, pos, fp FROM (
    SELECT doc_id, s, wmin AS fp, MAX(pos) AS pos
    FROM cand GROUP BY doc_id, s, wmin
)
"""


def normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace canonicalization of the corpus — see
    operators/text.py::normalize_text (zero-shuffle projection)."""
    from chewdata_spark.operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    return normalize_text(docs, "doc_id", "text")


def _normalize_sql() -> str:
    from chewdata_spark.operators.text import _PUNCT_FOLD

    expr = "text"
    for src, dst in _PUNCT_FOLD:
        s, d = src.replace("'", "''"), dst.replace("'", "''")
        expr = f"replace({expr}, '{s}', '{d}')"
    # DuckDB regexp_replace is first-match-only without the 'g' flag
    expr = f"regexp_replace({expr}, '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g')"
    expr = f"regexp_replace({expr}, '[ \\t]+', ' ', 'g')"
    # newline REPLACEMENTS are chr(10): DuckDB hands the replacement
    # to RE2's rewrite, which drops a literal backslash-n (the pattern
    # side's \n is a regex escape and stays as it is)
    expr = f"regexp_replace({expr}, ' ?\\n ?', chr(10), 'g')"
    expr = f"trim(regexp_replace({expr}, '\\n{{3,}}', chr(10) || chr(10), 'g'))"
    return f"""
SELECT doc_id, {expr} AS norm_text, {expr} <> text AS changed
FROM documents
"""


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf·idf keywords per document —
    operators/text.py::tfidf_top_terms (single-explode reuse shape)."""
    from chewdata_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", top_n=3)


TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
),
dt AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df_n FROM dt GROUP BY 1),
n AS (SELECT COUNT(*) AS nd FROM documents),
scored AS (
    SELECT doc_id, term, ROUND(tf * ln(nd * 1.0 / df_n), 6) AS score
    FROM dt JOIN dfreq USING (term), n
),
r AS (
    SELECT doc_id, term, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term ASC) AS rk
    FROM scored
)
SELECT doc_id, term, score, CAST(rk AS INT) AS rk FROM r WHERE rk <= 3
"""


QUERIES = {
    "chunk_documents": chunk_documents,
    "fingerprint_winnowing": fingerprint_winnowing,
    "normalize_documents": normalize_documents,
    "tfidf_keywords": tfidf_keywords,
    "documents_strip_boilerplate": documents_strip_boilerplate,
    "parts_in_price_band": parts_in_price_band,
    "text_stats": text_stats,
    "language_id": language_id,
    "quality_score": quality_score,
    "token_counts": token_counts,
    "content_fingerprint": content_fingerprint,
    "documents_redact_pii": documents_redact_pii,
    "corpus_top_terms": corpus_top_terms,
    "curate_corpus": curate_corpus,
}

ORACLES = {
    "chunk_documents": CHUNK_SQL,
    "fingerprint_winnowing": WINNOWING_SQL,
    "normalize_documents": _normalize_sql(),
    "tfidf_keywords": TFIDF_SQL,
    "documents_strip_boilerplate": STRIP_BOILERPLATE_SQL,
    "parts_in_price_band": PRICE_BAND_SQL,
    "text_stats": TEXT_STATS_SQL,
    "language_id": _language_id_sql(),
    "quality_score": QUALITY_SQL,
    "token_counts": TOKEN_COUNTS_SQL,
    "content_fingerprint": FINGERPRINT_SQL,
    "documents_redact_pii": _redact_sql(),
    "corpus_top_terms": TOP_TERMS_SQL,
    "curate_corpus": _curate_sql(),
}

def sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sentence rows with index + word counts —
    operators/text.py::segment_sentences (RE2-safe boundary regex)."""
    from chewdata_spark.operators.text import segment_sentences

    docs = load_table(spark, sf_dir, "documents")
    return segment_sentences(docs, "doc_id", "text")


SENTENCES_SQL = """
WITH segs AS (
    SELECT doc_id,
           list_filter(list_transform(
               regexp_extract_all(text, '[^.!?]+[.!?]*', 0),
               x -> trim(x)), x -> x <> '') AS ss
    FROM documents
)
SELECT doc_id,
       CAST(i - 1 AS INT) AS sent_idx,
       ss[i] AS sentence,
       CAST(len(string_split_regex(ss[i], '\\s+')) AS INT) AS n_words
FROM (SELECT doc_id, ss, unnest(generate_series(1, len(ss))) AS i FROM segs)
"""


QUERIES["sentence_segments"] = sentence_segments
ORACLES["sentence_segments"] = SENTENCES_SQL

def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: documents band into 3 training phases by
    quality score (easy/high-quality first).  A pure projection over
    the quality expression — fixed band edges, no global sort, no
    ntile (an ntile over the corpus would be a single-partition window
    at scale)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.text import _quality_expr

    docs = load_table(spark, sf_dir, "documents")
    q = _quality_expr("text")
    phase = (
        F.when(q >= 0.8, 1).when(q >= 0.6, 2).otherwise(3).cast("int")
    )
    return docs.select(
        "doc_id", q.alias("quality"), phase.alias("phase")
    )


CURRICULUM_SQL = """
WITH d AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
),
q AS (
    SELECT doc_id,
           ROUND(0.4 * least(CAST(n_chars AS DOUBLE) / 200.0, 1.0)
               + 0.3 * (1 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 5.0, 1.0))
               + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)), 6) AS quality
    FROM d
)
SELECT doc_id, quality,
       CAST(CASE WHEN quality >= 0.8 THEN 1
                 WHEN quality >= 0.6 THEN 2
                 ELSE 3 END AS INT) AS phase
FROM q
"""


QUERIES["curriculum_phases"] = curriculum_phases
ORACLES["curriculum_phases"] = CURRICULUM_SQL


def gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule metrics + conjunctive gate per document —
    operators/text.py::gopher_quality_gate."""
    from chewdata_spark.operators.text import gopher_quality_gate

    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality_gate(docs, "doc_id", "text")


GOPHER_SQL = """
WITH m AS (
    SELECT doc_id,
           len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
           length(regexp_replace(trim(text), '\\s+', '', 'g')) AS non_ws,
           length(trim(text)) - length(replace(trim(text), '#', '')) AS n_hash,
           (length(trim(text)) - length(replace(trim(text), '...', ''))) / 3 AS n_ell,
           string_split(text, chr(10)) AS lines,
           string_split_regex(lower(trim(text)), '\\s+') AS toks
    FROM documents
), r AS (
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           ROUND(non_ws * 1.0 / n_words, 6) AS mean_word_len,
           ROUND((n_hash + n_ell) * 1.0 / n_words, 6) AS symbol_ratio,
           ROUND(len(list_filter(lines, l -> starts_with(trim(l), '-')
                                         OR starts_with(trim(l), '•')
                                         OR starts_with(trim(l), '*')))
                 * 1.0 / len(lines), 6) AS bullet_line_frac,
           ROUND(len(list_filter(lines, l -> trim(l) LIKE '%...'))
                 * 1.0 / len(lines), 6) AS ellipsis_line_frac,
           ROUND(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                 * 1.0 / n_words, 6) AS alpha_word_frac,
           CAST(len(list_intersect(list_distinct(toks),
                ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS INT)
               AS n_stopwords
    FROM m
)
SELECT *,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3 AND 10
        AND symbol_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stopwords >= 2) AS passed
FROM r
"""

QUERIES["gopher_quality_report"] = gopher_quality_report
ORACLES["gopher_quality_report"] = GOPHER_SQL


def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    labeled `lang` column — the eval a pipeline runs before trusting
    lang-id for filtering.  One projection + one (lang, lang_pred)
    aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.language_id(docs, "doc_id", "text")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return joined.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


LANG_CONFUSION_SQL = f"""
WITH pred AS ({_language_id_sql()})
SELECT d.lang, p.lang_pred, COUNT(*) AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY d.lang, p.lang_pred
"""

QUERIES["language_id_confusion"] = language_id_confusion
ORACLES["language_id_confusion"] = LANG_CONFUSION_SQL


def hashed_bow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (the scikit "hashing trick"): each
    term maps to dimension ``hex16(md5(term)) % 128`` and contributes
    its term frequency — a deterministic, vocabulary-free text
    featurization that feeds the similarity stack without any ML
    library.  One explode → one (doc, dim) aggregation; the md5 dim
    assignment makes the features bit-identical in every engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    from chewdata_spark.operators.curation import md5_hex16

    dim = md5_hex16(F.col("term")) % 128
    return (
        toks.groupBy("doc_id", dim.alias("dim"))
        .agg(F.count(F.lit(1)).alias("v"))
    )


HASHED_BOW_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
)
SELECT doc_id,
       CAST(((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(term), 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(term), 4, 1)) - 1) % 128
            AS INT) AS dim,
       COUNT(*) AS v
FROM toks
GROUP BY 1, 2
"""

QUERIES["hashed_bow_features"] = hashed_bow_features
ORACLES["hashed_bow_features"] = HASHED_BOW_SQL


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the multilingual-tokenizer
    diagnostic (how many subword-ish tokens per whitespace word, and
    how many characters each token carries): languages with high
    fertility pay more sequence length per word, the metric that drives
    vocabulary-size and temperature-sampling decisions.  One narrow
    all-builtin aggregation pass over the corpus (token counts are the
    same whitespace + BPE-ish regex pair as token_counts), zero
    pre-shuffle work beyond the projection."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    ws = F.size(F.split(F.trim(F.lower(t)), r"\s+"))
    re_ = F.size(F.regexp_extract_all(t, F.lit(text.TOKEN_PATTERN), 0))
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).alias("ws_tokens"),
        F.sum(re_).alias("re_tokens"),
        F.sum(F.length(t)).alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "re_tokens",
        F.round(F.col("re_tokens") / F.col("ws_tokens"), 6).alias("fertility"),
        F.round(F.col("n_chars") / F.col("re_tokens"), 6).alias("chars_per_token"),
    )


TOKENIZER_FERTILITY_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT)
           AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{text.TOKEN_PATTERN}'))) AS BIGINT)
           AS re_tokens,
       ROUND(SUM(len(regexp_extract_all(text, '{text.TOKEN_PATTERN}'))) * 1.0
             / SUM(len(string_split_regex(trim(lower(text)), '\\s+'))), 6)
           AS fertility,
       ROUND(SUM(length(text)) * 1.0
             / SUM(len(regexp_extract_all(text, '{text.TOKEN_PATTERN}'))), 6)
           AS chars_per_token
FROM documents
GROUP BY lang
"""

QUERIES["tokenizer_fertility"] = tokenizer_fertility
ORACLES["tokenizer_fertility"] = TOKENIZER_FERTILITY_SQL


def char_entropy_junk_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy junk detector — the quality-family member that
    catches what length/stopword ratios can't: binary blobs, mojibake
    and key-mash runs score LOW entropy (few distinct bytes dominate)
    or pathologically HIGH (uniform noise), while natural language sits
    in a band.  H = log2(n) - sum(cnt*log2(cnt))/n over per-character
    counts — one algebraic aggregate, so the only shuffle is to
    (doc_id, char) grain with map-side partials (alphabet-bounded
    state), then doc grain.  Flags docs outside [2.5, 5.5] bits."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("s"),
    )
    h = F.round(F.log2("n") - F.col("s") / F.col("n"), 4)
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        h.alias("char_entropy"),
        ((h < 2.5) | (h > 5.5)).cast("int").alias("junk_flag"),
    )


CHAR_ENTROPY_SQL = """
WITH chars AS (
    SELECT doc_id, c AS ch
    FROM documents, unnest(string_split(COALESCE(text, ''), '')) AS t(c)
    WHERE c <> ''
), counts AS (
    SELECT doc_id, ch, COUNT(*) AS cnt FROM chars GROUP BY 1, 2
), agg AS (
    SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS s
    FROM counts GROUP BY 1
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars,
       ROUND(log2(n) - s / n, 4) AS char_entropy,
       CAST(ROUND(log2(n) - s / n, 4) < 2.5
            OR ROUND(log2(n) - s / n, 4) > 5.5 AS INT) AS junk_flag
FROM agg
"""

QUERIES["char_entropy_junk_filter"] = char_entropy_junk_filter
ORACLES["char_entropy_junk_filter"] = CHAR_ENTROPY_SQL
