"""Dedup operators as verifiable queries over `documents`.

MinHash/SimHash use seeded xxhash64 permutations (not reproducible in
ANSI SQL) → rows-only checks; exact-hash and exact n-gram Jaccard have
full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from chewdata_spark.operators import dedup
from chewdata_spark.operators.dedup import _OBS_SEQ
from chewdata_spark.operators.suffix import _CHAR
from chewdata_spark.tables import load_table


def _sa_scoring_ctes(
    *,
    new_where: str,
    seen_where: str,
    with_off: bool = False,
    full_doc: bool = False,
    cmp_len: int = 128,
    bucket_len: int = 8,
    max_bucket: int = 10_000,
    new_rel: str = "documents",
    seen_rel: str = "documents",
    lead: str = "WITH",
    prefix: str = "",
) -> str:
    """The WITH-prefix shared by every incremental-SA oracle: arriving
    and seen suffix relations, the hot-bucket cap mirror (HAVING on the
    ``bucket_len``-char bucket grain), the per-bucket seen neighbours
    (seen rows sort before new on ties), and the per-position shared
    length ``m`` — ONE builder so the six consumer oracles cannot drift
    on tie order, LCP fallback, or the cap.  ``with_off`` threads the
    arriving position through (the span-cut and evidence oracles need
    it); ``full_doc`` scans whole docs with ``cmp_len`` as the
    per-suffix compare cap (see decontaminate_cut_spans_sa_full).
    ``bucket_len``/``max_bucket`` MUST match the values the query
    passes to the operator (sa_contamination_scores and friends) —
    thread the same constants to both sides.  ``new_rel``/``seen_rel``
    name the relations scanned (default the raw ``documents`` view;
    composed oracles point them at earlier CTEs exposing
    ``(doc_id, text)``), and ``lead`` lets the block continue an
    existing WITH chain (pass ``lead=","``)."""
    if full_doc:
        t_new = "COALESCE(text, '') AS t"
        w_new = f"{new_where} AND length(COALESCE(text, '')) > 0"
        w_seen = f"{seen_where} AND length(COALESCE(text, '')) > 0"
        suf = f"substr(t, off, {cmp_len})"
    else:
        t_new = f"substr(text, 1, {cmp_len}) AS t"
        w_new = (f"{new_where} AND text IS NOT NULL\n"
                 f"      AND length(substr(text, 1, {cmp_len})) > 0")
        w_seen = (f"{seen_where} AND text IS NOT NULL\n"
                  f"      AND length(substr(text, 1, {cmp_len})) > 0")
        suf = "substr(t, off)"
    if with_off:
        new_cols = "doc_id, off, " + suf + " AS suf"
        u_seen = ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                  "CAST(NULL AS INT) AS off,\n           suf, 1 AS is_seen"
                  f"\n    FROM {prefix}seensuf")
        u_new = ("SELECT doc_id, CAST(off AS INT) AS off, suf, 0 AS is_seen "
                 f"FROM {prefix}newsuf")
        nb_cols = "doc_id, off, suf, is_seen"
        sc_cols = "doc_id, off"
    else:
        new_cols = "doc_id, " + suf + " AS suf"
        u_seen = ("SELECT CAST(NULL AS BIGINT) AS doc_id, suf, 1 AS is_seen "
                  f"FROM {prefix}seensuf")
        u_new = f"SELECT doc_id, suf, 0 AS is_seen FROM {prefix}newsuf"
        nb_cols = "doc_id, suf, is_seen"
        sc_cols = "doc_id"
    return f"""
{lead} {prefix}newd AS (
    SELECT doc_id, {t_new} FROM {new_rel}
    WHERE {w_new}
), {prefix}seend AS (
    SELECT doc_id, {t_new} FROM {seen_rel}
    WHERE {w_seen}
), {prefix}newsuf AS (
    SELECT {new_cols}
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, length(t))) AS off FROM {prefix}newd)
), {prefix}seensuf0 AS (
    SELECT DISTINCT {suf} AS suf
    FROM (SELECT t, unnest(generate_series(1, length(t))) AS off FROM {prefix}seend)
), {prefix}okbk AS (
    -- hot-bucket cap mirror (max_bucket = {max_bucket}): a prefix bucket
    -- wider than the cap drops from the seen side before neighbour-finding
    SELECT substr(suf, 1, {bucket_len}) AS bk FROM {prefix}seensuf0
    GROUP BY 1 HAVING COUNT(*) <= {max_bucket}
), {prefix}seensuf AS (
    SELECT s.suf FROM {prefix}seensuf0 s
    JOIN {prefix}okbk k ON substr(s.suf, 1, {bucket_len}) = k.bk
), {prefix}u AS (
    {u_seen}
    UNION ALL
    {u_new}
), {prefix}nb AS (
    SELECT {nb_cols},
        LAST_VALUE(CASE WHEN is_seen = 1 THEN suf END IGNORE NULLS) OVER (
            PARTITION BY substr(suf, 1, {bucket_len})
            ORDER BY suf, is_seen DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pred,
        FIRST_VALUE(CASE WHEN is_seen = 1 THEN suf END IGNORE NULLS) OVER (
            PARTITION BY substr(suf, 1, {bucket_len})
            ORDER BY suf, is_seen DESC
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS succ
    FROM {prefix}u
), {prefix}scored AS (
    SELECT {sc_cols},
        greatest(
            CASE WHEN pred IS NULL THEN 0 ELSE
                COALESCE(([i FOR i IN generate_series(1,
                               least(length(suf), length(pred)))
                           IF substr(suf, i, 1) <> substr(pred, i, 1)])[1],
                         least(length(suf), length(pred)) + 1) - 1 END,
            CASE WHEN succ IS NULL THEN 0 ELSE
                COALESCE(([i FOR i IN generate_series(1,
                               least(length(suf), length(succ)))
                           IF substr(suf, i, 1) <> substr(succ, i, 1)])[1],
                         least(length(suf), length(succ)) + 1) - 1 END
        ) AS m
    FROM {prefix}nb WHERE is_seen = 0
)"""



def _sa_scoring_ctes_tokens(
    *,
    new_where: str,
    seen_where: str,
    with_off: bool = False,
    full_doc: bool = False,
    cmp_tokens: int = 32,
    bucket_tokens: int = 2,
    max_bucket: int = 10_000,
    rel: str = "documents",
    tk_expr: str | None = None,
    lead: str = "WITH",
    prefix: str = "",
) -> str:
    """TOKEN-grain twin of :func:`_sa_scoring_ctes`: suffixes are
    DuckDB LISTS (list comparison is lexicographic with shorter-prefix
    -first — the suffix convention), the prefix bucket is the first
    ``bucket_tokens`` tokens, and the per-position shared length ``m``
    counts TOKENS.  Parameters must match the operator call
    (sa_contamination_scores_tokens) exactly.  ``rel``/``tk_expr``
    point the builder at another relation's token-list column (the
    BPE-grain oracle passes the encoded piece relation); ``lead=","``
    continues an existing WITH chain."""
    if tk_expr is None:
        tk_expr = "string_split_regex(trim(COALESCE(text, '')), '\\s+')"
    if full_doc:
        t_sel = f"{tk_expr} AS tk0"
    else:
        t_sel = f"list_slice({tk_expr}, 1, {cmp_tokens}) AS tk0"
    w_new = new_where
    w_seen = seen_where
    suf = f"list_slice(tk, off, off + {cmp_tokens} - 1)"
    if with_off:
        new_cols = "doc_id, off, " + suf + " AS suf"
        u_seen = ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                  "CAST(NULL AS INT) AS off,\n           suf, 1 AS is_seen"
                  f"\n    FROM {prefix}seensuf")
        u_new = ("SELECT doc_id, CAST(off AS INT) AS off, suf, 0 AS is_seen "
                 f"FROM {prefix}newsuf")
        nb_cols = "doc_id, off, suf, is_seen"
        sc_cols = "doc_id, off"
    else:
        new_cols = "doc_id, " + suf + " AS suf"
        u_seen = ("SELECT CAST(NULL AS BIGINT) AS doc_id, suf, 1 AS is_seen "
                  f"FROM {prefix}seensuf")
        u_new = f"SELECT doc_id, suf, 0 AS is_seen FROM {prefix}newsuf"
        nb_cols = "doc_id, suf, is_seen"
        sc_cols = "doc_id"
    nonempty = "len(tk0) >= 1 AND (len(tk0) > 1 OR tk0[1] <> '')"
    return f"""
{lead} {prefix}newd AS (
    SELECT doc_id, tk0 AS tk
    FROM (SELECT doc_id, {t_sel} FROM {rel} WHERE {w_new})
    WHERE {nonempty}
), {prefix}seend AS (
    SELECT doc_id, tk0 AS tk
    FROM (SELECT doc_id, {t_sel} FROM {rel} WHERE {w_seen})
    WHERE {nonempty}
), {prefix}newsuf AS (
    SELECT {new_cols}
    FROM (SELECT doc_id, tk,
                 unnest(generate_series(1, len(tk))) AS off FROM {prefix}newd)
), {prefix}seensuf0 AS (
    SELECT DISTINCT {suf} AS suf
    FROM (SELECT tk, unnest(generate_series(1, len(tk))) AS off FROM {prefix}seend)
), {prefix}okbk AS (
    SELECT list_slice(suf, 1, {bucket_tokens}) AS bk FROM {prefix}seensuf0
    GROUP BY 1 HAVING COUNT(*) <= {max_bucket}
), {prefix}seensuf AS (
    SELECT s.suf FROM {prefix}seensuf0 s
    JOIN {prefix}okbk k ON list_slice(s.suf, 1, {bucket_tokens}) = k.bk
), {prefix}u AS (
    {u_seen}
    UNION ALL
    {u_new}
), {prefix}nb AS (
    SELECT {nb_cols},
        LAST_VALUE(CASE WHEN is_seen = 1 THEN suf END IGNORE NULLS) OVER (
            PARTITION BY list_slice(suf, 1, {bucket_tokens})
            ORDER BY suf, is_seen DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pred,
        FIRST_VALUE(CASE WHEN is_seen = 1 THEN suf END IGNORE NULLS) OVER (
            PARTITION BY list_slice(suf, 1, {bucket_tokens})
            ORDER BY suf, is_seen DESC
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS succ
    FROM {prefix}u
), {prefix}scored AS (
    SELECT {sc_cols},
        greatest(
            CASE WHEN pred IS NULL THEN 0 ELSE
                COALESCE(([i FOR i IN generate_series(1,
                               least(len(suf), len(pred)))
                           IF suf[i] <> pred[i]])[1],
                         least(len(suf), len(pred)) + 1) - 1 END,
            CASE WHEN succ IS NULL THEN 0 ELSE
                COALESCE(([i FOR i IN generate_series(1,
                               least(len(suf), len(succ)))
                           IF suf[i] <> succ[i]])[1],
                         least(len(suf), len(succ)) + 1) - 1 END
        ) AS m
    FROM {prefix}nb WHERE is_seen = 0
)"""


# Gaps-and-islands merge of a ``marked (doc_id, s, e)`` interval CTE
# into ``spans`` plus the covered-position explode ``cov`` — ONE
# literal shared by every span-cut oracle (char head/full, token, BPE,
# the decontaminating flagship), so the merge convention (touching
# spans fuse via the +1 rule) cannot drift between an oracle and its
# operator twin (_merge_islands).
_ISLAND_COV_CTES = """, isl AS (
    -- DISTINCT is load-bearing: `marked` can hold EXACT duplicate
    -- (s, e) rows (the decontaminating flagships union repeat marks
    -- with scorer marks, and a span can satisfy both criteria).  The
    -- two windows below order by (s, e); with tied keys DuckDB's
    -- parallel sorts can disagree BETWEEN window evaluations (and
    -- `spans` is inlined into both cov and nsp), which made n_spans/
    -- n_cut flap run-to-run (observed: the same doc reporting
    -- (1,5)/(1,10)/(2,5) across three runs).  Unique keys per doc =
    -- one total order = deterministic.  Merging duplicate marks is
    -- semantically idempotent, so every consumer's values are
    -- unchanged.  (The Spark twin `_merge_islands` is safe as-is:
    -- both window functions share ONE WindowExec sort, and identical
    -- rows produce the same island under either tie order.)
    SELECT doc_id, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS ni
    FROM (SELECT DISTINCT doc_id, s, e FROM marked)
), isl2 AS (
    SELECT doc_id, s, e,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM isl
), spans AS (
    SELECT doc_id, MIN(s) AS s, MAX(e) AS e
    FROM isl2 GROUP BY doc_id, island
), cov AS (
    SELECT doc_id, unnest(generate_series(s, e)) AS i FROM spans
)"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by content md5 (min-id representative per group)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", ["text"])


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive (bag-of-words) fingerprint dedup groups."""
    from chewdata_spark.operators.text import content_fingerprint
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint(docs, "doc_id", "text")
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


DEDUP_FINGERPRINT_SQL = """
SELECT md5(array_to_string(list_sort(list_distinct(
           string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs (the quadratic verification twin)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


# Trigram shingles: i-th shingle = words[i..i+2] joined by space; short
# docs (<3 words) collapse to one whole-text shingle, mirroring
# _word_shingles' greatest(size-2, 1).
NGRAM_JACCARD_SQL = """
WITH d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
           COUNT(*) AS inter
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
FROM inter
WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
"""


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trigram-Jaccard pairs via PPJoin prefix filtering — the
    sub-quadratic production twin of `dedup_ngram_jaccard` (identical
    output, shares its oracle; candidates keyed on each doc's rarest
    shingles only, so stop-word shingle buckets never explode).
    See operators/dedup.py::jaccard_prefix_pairs for the scale
    argument; equality with the quadratic twin is pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + LSH(16 bands) candidate pairs, verified to
    Jaccard ≥ 0.5.  Rows-only check (seeded xxhash64 not in ANSI SQL);
    the recall vs. `dedup_ngram_jaccard` is asserted in tests/."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_perm=64, shingle_size=3)
    return dedup.minhash_candidate_pairs(sigs, num_perm=64, bands=16, jaccard_threshold=0.5)


def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH with the *portable* md5-seeded hash family
    (operators/dedup.py::minhash_signatures_portable): md5 is identical
    in every engine, so the DuckDB oracle recomputes signatures, LSH
    buckets AND the verified pair set verbatim — upgrading MinHash-LSH
    from a rows-only check to a full value-hash check.  32 perms x 16
    bands (rows-per-band 2): candidate recall ≈ 99% at Jaccard 0.5,
    ~100% at 0.8; exact-Jaccard verification then makes the output
    deterministic regardless of banding recall on true pairs found."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_portable(
        docs, "doc_id", "text", num_perm=32, shingle_size=3
    )
    return dedup.minhash_candidate_pairs(
        sigs, num_perm=32, bands=16, jaccard_threshold=0.5
    )


_MD5_SIG_COLS = ",\n           ".join(
    f"MIN(md5('{j}|' || shingle)) AS m{j}" for j in range(32)
)
_MD5_BAND_ROWS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band_idx, m{2 * b} || '|' || m{2 * b + 1} AS bh FROM sig"
    for b in range(16)
)
# Same trigram shingles as NGRAM_JACCARD_SQL; signature element j =
# MIN(md5('j|' || shingle)) — bit-identical to the Spark side, so the
# bucket equalities (bh) reproduce the exact candidate set.
MINHASH_MD5_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), sig AS (
    SELECT doc_id,
           {_MD5_SIG_COLS}
    FROM e GROUP BY doc_id
), bands AS (
{_MD5_BAND_ROWS}
), okb AS (
    -- mirror of the Spark hot-bucket cap (max_bucket=10000): buckets
    -- larger than the cap are dropped before pair generation
    SELECT band_idx, bh FROM bands GROUP BY 1, 2
    HAVING COUNT(*) BETWEEN 2 AND 10000
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
    JOIN okb ON okb.band_idx = a.band_idx AND okb.bh = a.bh
    GROUP BY 1, 2
), inter AS (
    SELECT c.id_a, c.id_b, ea.n_sh AS n_a, eb.n_sh AS n_b, COUNT(*) AS inter
    FROM cand c
    JOIN e ea ON ea.doc_id = c.id_a
    JOIN e eb ON eb.doc_id = c.id_b AND ea.shingle = eb.shingle
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
FROM inter
WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
"""


def dedup_containment_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs (|A∩B| / min(|A|,|B|) ≥ 0.7) via the
    portable md5 MinHash-LSH front-end — catches a short document
    embedded inside a long one (quote / boilerplate inclusion), which
    Jaccard's union denominator dilutes below threshold.  Same
    sub-quadratic plan as `dedup_minhash_lsh_md5` (one band shuffle,
    candidate-only verification); fully oracle-backed."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_portable(
        docs, "doc_id", "text", num_perm=32, shingle_size=3
    )
    return dedup.minhash_candidate_pairs(
        sigs, num_perm=32, bands=16, jaccard_threshold=0.7, metric="containment"
    )


CONTAINMENT_MD5_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), sig AS (
    SELECT doc_id,
           {_MD5_SIG_COLS}
    FROM e GROUP BY doc_id
), bands AS (
{_MD5_BAND_ROWS}
), okb AS (
    -- mirror of the Spark hot-bucket cap (max_bucket=10000): buckets
    -- larger than the cap are dropped before pair generation
    SELECT band_idx, bh FROM bands GROUP BY 1, 2
    HAVING COUNT(*) BETWEEN 2 AND 10000
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
    JOIN okb ON okb.band_idx = a.band_idx AND okb.bh = a.bh
    GROUP BY 1, 2
), inter AS (
    SELECT c.id_a, c.id_b, ea.n_sh AS n_a, eb.n_sh AS n_b, COUNT(*) AS inter
    FROM cand c
    JOIN e ea ON ea.doc_id = c.id_a
    JOIN e eb ON eb.doc_id = c.id_b AND ea.shingle = eb.shingle
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / least(n_a, n_b), 6) AS containment
FROM inter
WHERE ROUND(inter * 1.0 / least(n_a, n_b), 6) >= 0.7
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 near-dup candidates (hamming ≤ 3, 4×16-bit bands).
    Rows-only.  4 bands × 16 bits: pigeonhole guarantees 100% banding
    recall at hamming ≤ 3 (one flipped bit leaves 3 bands intact), and
    16-bit band values collide 256× less than the former 8-bit ones —
    the r6 sweep measured the 8-band/hamming-6 shape at 9.6 s at sf0.1,
    dominated by template-corpus candidate volume, vs ~1 s for this
    shape.  Hamming ≤ 3 of 64 is the standard simhash near-dup radius
    (Manku et al., WWW'07)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash64(docs, "doc_id", "text")
    return dedup.simhash_candidate_pairs(fps, bands=4, max_hamming=3)


def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 32-bit SimHash (md5-derived bits,
    operators/dedup.py::simhash_portable) + 2×16-bit bucketing,
    verified to Hamming ≤ 1 — the fully oracle-backed twin of `dedup_simhash`
    (whose xxhash64 bits are not reproducible in SQL).  Hamming ≤ 1 of
    32 bits — far tighter than the 64-bit twin's ≤ 6: with half the
    bits each bit carries double the collision rate, and the synthetic
    template corpus makes loose thresholds flag O(n²) pairs (≤ 2
    produced 777k pairs from 5k docs at sf0.1 — output volume, not the
    plan, dominated its runtime).  2 bands × 16 bits: by pigeonhole a
    single differing bit leaves the other band identical, so banding
    recall at hamming ≤ 1 is exactly 100% — and 16-bit band values
    collide ~256× less than 8-bit ones (bucket sizes, and therefore
    candidate volume, drop accordingly)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash_portable(docs, "doc_id", "text")
    return dedup.simhash_candidate_pairs(fps, bands=2, max_hamming=1, bits=32)


def _simhash_bit_sql(i: int) -> str:
    p, shift = i // 4 + 1, 3 - (i % 4)
    return (
        f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
        f" >> {shift}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    )


_SIMHASH_BIT_SUMS = ",\n           ".join(_simhash_bit_sql(i) for i in range(32))
_SIMHASH_FP = " | ".join(
    f"((CASE WHEN b{i} > 0 THEN 1 ELSE 0 END)::BIGINT << {i})" for i in range(32)
)
SIMHASH_MD5_SQL = f"""
WITH toks AS (
    SELECT doc_id, md5(t) AS h
    FROM (SELECT doc_id,
                 unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS t
          FROM documents)
), bits AS (
    SELECT doc_id,
           {_SIMHASH_BIT_SUMS}
    FROM toks GROUP BY doc_id
), fp AS (
    SELECT doc_id, {_SIMHASH_FP} AS simhash FROM bits
), bands AS (
    SELECT doc_id, simhash, b AS band_idx, (simhash >> (b * 16)) & 65535 AS band_val
    FROM fp, (SELECT unnest(generate_series(0, 1)) AS b)
), okb AS (
    -- mirror of the Spark hot-bucket cap (max_bucket=10000)
    SELECT band_idx, band_val FROM bands GROUP BY 1, 2
    HAVING COUNT(*) BETWEEN 2 AND 10000
), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    JOIN okb ON okb.band_idx = a.band_idx AND okb.band_val = a.band_val
    GROUP BY 1, 2, 3
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 1
"""


def dedup_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup output: the corpus with near-duplicates
    removed (greedy keep-lowest-id per pair, trigram Jaccard ≥ 0.5).
    At scale the pair source is MinHash-LSH; here the exact pairs keep
    it oracle-checkable — same downstream anti-join either way."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source", "n_chars")


CLEAN_CORPUS_SQL = """
WITH d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
), drop_ids AS (
    SELECT DISTINCT id_b FROM inter WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM drop_ids)
"""


def dedup_clean_corpus_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for clean-corpus: MinHash-LSH candidate pairs
    (sub-quadratic — one (band,hash) shuffle, verify only candidates)
    feed the same greedy anti-join.  Rows-only check (seeded hashing);
    recall vs the exact pair source is asserted in tests/."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_perm=64, shingle_size=3)
    pairs = dedup.minhash_candidate_pairs(sigs, num_perm=64, bands=16, jaccard_threshold=0.5)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source", "n_chars")


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not pairs: connected components over the
    exact trigram-Jaccard pair graph (alternating large-star/small-star,
    operators/graph.py).  cluster_id = component min doc_id, so the
    result is deterministic and the DuckDB recursive-CTE oracle can
    reproduce it.  The pair source is exact for checkability; at scale
    it is the identical plan fed by MinHash-LSH pairs."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chewdata_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


# Transitive min-reachable label via recursive CTE — enumerates every
# (node, reachable-label) pair, exact on the small pair graph.
CLUSTER_COMPONENTS_SQL = """
WITH RECURSIVE d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
), pairs AS (
    SELECT id_a, id_b FROM inter WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT node AS doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: near-dup clusters keep their
    HIGHEST-QUALITY member, not their first — the curation policy that
    beats first-occurrence-wins when duplicates differ (an OCR-noisy
    copy and a clean copy of the same page cluster together; keeping
    the min-id can keep the noisy one).  Clusters are connected
    components over the exact trigram-Jaccard pair graph (the checkable
    twin of the LSH pair source, like dedup_cluster_components);
    survivor = max 6-dp surface quality (text.quality_score), tie
    lowest doc_id; unclustered docs are their own survivors.  Output is
    the full audit relation (doc_id, cluster_id, quality, kept).

    Scale shape: pair graph + alternating-star CC as everywhere; the
    survivor window partitions by cluster_id — width = that cluster's
    size, the same bound every per-cluster step here carries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chewdata_spark.operators.graph import connected_components
    from chewdata_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "node", "doc_id"
    )
    q = quality_score(docs, "doc_id", "text")
    lab = q.join(labels.select("doc_id", "cluster_id"), "doc_id", "left")
    lab = lab.withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return lab.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("kept"),
    )


def _keep_best_quality_sql() -> str:
    from chewdata_spark.queries.text_queries import QUALITY_SQL

    quality_select = QUALITY_SQL.strip().rstrip(";")
    return f"""
WITH RECURSIVE d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
), pairs AS (
    SELECT id_a, id_b FROM inter WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
), qd AS (SELECT * FROM ({quality_select})),
fullrel AS (
    SELECT q.doc_id,
           COALESCE(l.cluster_id, q.doc_id) AS cluster_id,
           q.quality
    FROM qd q LEFT JOIN lab l ON l.node = q.doc_id
)
SELECT doc_id, cluster_id, quality,
       (ROW_NUMBER() OVER (PARTITION BY cluster_id
                           ORDER BY quality DESC, doc_id ASC) = 1) AS kept
FROM fullrel
"""


def dedup_clean_corpus_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-correct clean corpus: one survivor (min doc_id) per
    connected duplicate component.  Where the greedy pairwise anti-join
    (`dedup_clean_corpus`) can over-delete on A~B~C chains, this keeps
    exactly one document per transitive duplicate group — the
    production semantics for training-corpus dedup."""
    from chewdata_spark.operators.graph import cluster_dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return cluster_dedup(docs, pairs, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


CLEAN_CORPUS_CC_SQL = """
WITH RECURSIVE d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
), pairs AS (
    SELECT id_a, id_b FROM inter WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM lab WHERE node <> cluster_id)
"""


def dedup_clean_corpus_lsh_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END production dedup path at 100 TB: MinHash-LSH
    candidate discovery (sub-quadratic, one (band,hash) shuffle) →
    connected-components clustering over the pair graph (O(log n)
    star rounds) → one anti-join keeping the min-id survivor per
    duplicate cluster.  Rows-only check (seeded hashing); recall vs
    the exact-pair cluster twin is asserted in tests/."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.graph import cluster_dedup

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_perm=64, shingle_size=3)
    pairs = dedup.minhash_candidate_pairs(sigs, num_perm=64, bands=16, jaccard_threshold=0.5)
    return cluster_dedup(docs, pairs, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


def dedup_clean_corpus_lsh_cc_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup path (LSH discovery → connected components
    → anti-join) with the portable md5 MinHash family — fully
    oracle-backed end to end: the SQL replays signatures, buckets,
    verified pairs AND the transitive clustering (recursive CTE), so
    the driver hash-checks the entire 100 TB-shaped pipeline."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.graph import cluster_dedup

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_portable(
        docs, "doc_id", "text", num_perm=32, shingle_size=3
    )
    pairs = dedup.minhash_candidate_pairs(
        sigs, num_perm=32, bands=16, jaccard_threshold=0.5
    )
    return cluster_dedup(docs, pairs, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


CLEAN_CORPUS_LSH_CC_MD5_SQL = f"""
WITH RECURSIVE d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), sig AS (
    SELECT doc_id,
           {_MD5_SIG_COLS}
    FROM e GROUP BY doc_id
), bands AS (
{_MD5_BAND_ROWS}
), okb AS (
    -- mirror of the Spark hot-bucket cap (max_bucket=10000): buckets
    -- larger than the cap are dropped before pair generation
    SELECT band_idx, bh FROM bands GROUP BY 1, 2
    HAVING COUNT(*) BETWEEN 2 AND 10000
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
    JOIN okb ON okb.band_idx = a.band_idx AND okb.bh = a.bh
    GROUP BY 1, 2
), inter AS (
    SELECT c.id_a, c.id_b, ea.n_sh AS n_a, eb.n_sh AS n_b, COUNT(*) AS inter
    FROM cand c
    JOIN e ea ON ea.doc_id = c.id_a
    JOIN e eb ON eb.doc_id = c.id_b AND ea.shingle = eb.shingle
    GROUP BY 1, 2, 3, 4
), pairs AS (
    SELECT id_a, id_b FROM inter WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e2.u, r.lbl FROM edges e2 JOIN reach r ON e2.v = r.node
), lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM lab WHERE node <> cluster_id)
"""


def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated token spans (Lee et al. exact
    substring dedup) — see operators/dedup.py::duplicate_spans for the
    gram/islands plan."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, "doc_id", "text", k=8)


# same construction: positional 8-grams from list_slice, grams present
# in >1 document, gaps-and-islands merge of overlapping hit positions
DUPLICATE_SPANS_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
    FROM documents
),
grams AS (
    SELECT doc_id, i - 1 AS pos,
           array_to_string(list_slice(arr, i, i + 7), ' ') AS g
    FROM (SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr) - 7)) AS i
          FROM toks WHERE len(arr) >= 8)
),
dup AS (
    SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g
    ) WHERE nd > 1
),
hits AS (
    SELECT doc_id, pos FROM grams JOIN dup USING (g)
),
isl AS (
    SELECT doc_id, pos,
           SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits)
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + 7 AS span_end,
       MAX(pos) + 8 - MIN(pos) AS span_tokens
FROM isl
GROUP BY doc_id, island
"""


def dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/FineWeb corpus-global line dedup: duplicated lines keep only
    their first (doc_id, pos) occurrence; docs reassemble from the
    survivors — see operators/dedup.py::dedup_lines_global."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_lines_global(docs, "doc_id", "text", min_words=5)


DEDUP_LINES_SQL = """
WITH s AS (
    SELECT doc_id, string_split(text, chr(10)) AS ln FROM documents
),
lines AS (
    SELECT doc_id, i - 1 AS pos, ln[i] AS line
    FROM (SELECT doc_id, ln, unnest(generate_series(1, len(ln))) AS i FROM s)
),
elig AS (
    SELECT doc_id, pos, line,
           (len(string_split_regex(trim(line), '\\s+')) >= 5
            AND trim(line) <> '') AS ok
    FROM lines
),
ranked AS (
    SELECT doc_id, pos, line,
           ROW_NUMBER() OVER (PARTITION BY md5(trim(lower(line)))
                              ORDER BY doc_id, pos) AS rnk
    FROM elig WHERE ok
    UNION ALL
    SELECT doc_id, pos, line, 1 AS rnk FROM elig WHERE NOT ok
)
SELECT doc_id,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE rnk = 1), '') AS clean_text,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN rnk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked
GROUP BY doc_id
"""


def dedup_lines_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal (C4's per-page rule) —
    operators/dedup.py::dedup_lines_within_doc."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_lines_within_doc(docs, "doc_id", "text", min_words=5)


DEDUP_LINES_WITHIN_DOC_SQL = """
WITH s AS (
    SELECT doc_id, string_split(text, chr(10)) AS ln FROM documents
),
lines AS (
    SELECT doc_id, i - 1 AS pos, ln[i] AS line
    FROM (SELECT doc_id, ln, unnest(generate_series(1, len(ln))) AS i FROM s)
),
ranked AS (
    SELECT doc_id, pos, line,
           (len(string_split_regex(trim(line), '\\s+')) >= 5
            AND trim(line) <> '') AS ok,
           ROW_NUMBER() OVER (PARTITION BY doc_id, md5(trim(lower(line)))
                              ORDER BY pos) AS rnk
    FROM lines
)
SELECT doc_id,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE rnk = 1 OR NOT ok), '') AS clean_text,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN ok AND rnk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked
GROUP BY doc_id
"""


def dedup_cut_spans_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL (the other half of Lee et al. dedup): non-first
    k-gram occurrences mark their tokens for cutting; docs reassemble
    from survivors — operators/dedup.py::cut_duplicate_spans."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cut_duplicate_spans(docs, "doc_id", "text", k=8)


CUT_SPANS_SQL = """
WITH s AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
    FROM documents
),
toks AS (
    SELECT doc_id, i - 1 AS pos, arr[i] AS w
    FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM s)
),
grams AS (
    SELECT doc_id, i - 1 AS pos,
           md5(array_to_string(list_slice(arr, i, i + 7), ' ')) AS gh
    FROM (SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr) - 7)) AS i
          FROM s WHERE len(arr) >= 8)
),
ranked AS (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rnk
    FROM grams
),
covered AS (
    SELECT DISTINCT doc_id, cpos FROM (
        SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS cpos
        FROM ranked WHERE rnk > 1
    )
),
kept AS (
    SELECT t.doc_id, t.pos, t.w
    FROM toks t LEFT JOIN covered c
      ON t.doc_id = c.doc_id AND t.pos = c.cpos
    WHERE c.cpos IS NULL
)
SELECT n.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       n.n_tokens,
       n.n_tokens - COALESCE(k.n_kept, 0) AS n_cut
FROM (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id) n
LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
                  COUNT(*) AS n_kept
           FROM kept GROUP BY doc_id) k USING (doc_id)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_duplicate_spans": dedup_duplicate_spans,
    "dedup_cut_spans_corpus": dedup_cut_spans_corpus,
    "dedup_lines_global": dedup_lines_global,
    "dedup_lines_within_doc": dedup_lines_within_doc,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_clean_corpus_cc": dedup_clean_corpus_cc,
    "dedup_clean_corpus_lsh_cc": dedup_clean_corpus_lsh_cc,
    "dedup_clean_corpus_lsh_cc_md5": dedup_clean_corpus_lsh_cc_md5,
    "dedup_clean_corpus": dedup_clean_corpus,
    "dedup_clean_corpus_lsh": dedup_clean_corpus_lsh,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_prefix": dedup_jaccard_prefix,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_md5": dedup_minhash_lsh_md5,
    "dedup_containment_md5": dedup_containment_md5,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_md5": dedup_simhash_md5,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_duplicate_spans": DUPLICATE_SPANS_SQL,
    "dedup_cut_spans_corpus": CUT_SPANS_SQL,
    "dedup_lines_global": DEDUP_LINES_SQL,
    "dedup_lines_within_doc": DEDUP_LINES_WITHIN_DOC_SQL,
    "dedup_cluster_components": CLUSTER_COMPONENTS_SQL,
    "dedup_clean_corpus_cc": CLEAN_CORPUS_CC_SQL,
    "dedup_clean_corpus_lsh_cc_md5": CLEAN_CORPUS_LSH_CC_MD5_SQL,
    "dedup_clean_corpus": CLEAN_CORPUS_SQL,
    "dedup_fingerprint": DEDUP_FINGERPRINT_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_jaccard_prefix": NGRAM_JACCARD_SQL,
    "dedup_minhash_lsh_md5": MINHASH_MD5_SQL,
    "dedup_containment_md5": CONTAINMENT_MD5_SQL,
    "dedup_simhash_md5": SIMHASH_MD5_SQL,
}

def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: odd doc_ids arrive as the new batch, even
    doc_ids are the existing corpus; arriving exact/near duplicates of
    the seen side drop (operators/dedup.py::incremental_ingest_dedup).
    Rows-only (seeded MinHash); planted-duplicate behavior is pinned in
    tests/test_span_winnowing.py."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    out = dedup.incremental_ingest_dedup(new, seen, "doc_id", "text")
    return out.select("doc_id", "lang", "source")


QUERIES["dedup_keep_best_quality"] = dedup_keep_best_quality
ORACLES["dedup_keep_best_quality"] = _keep_best_quality_sql()


def dedup_incremental_ingest_sa_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOKEN-grain incremental SA contamination gate — the grain
    dedup_incremental_ingest_sa's char windows trip over whitespace or
    formatting noise on: arriving odd-id docs sharing a whole
    >= 5-TOKEN run with the even-id corpus drop
    (operators/suffix.py::sa_contamination_scores_tokens; first-32-
    tokens declared window, 2-token prefix buckets, hot buckets capped
    at 10k with the oracle HAVING mirror)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import (
        sa_incremental_contamination_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return sa_incremental_contamination_tokens(
        new, seen, "doc_id", "text",
        max_tokens=32, min_tokens=5, bucket_tokens=2, max_bucket=10_000,
        # "auto": int-encode the token alphabet when bounded in
        # practice, string path otherwise — bit-identical either way
        int_alphabet="auto",
    )


INGEST_SA_TOKENS_SQL = _sa_scoring_ctes_tokens(
    new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
    cmp_tokens=32, bucket_tokens=2, max_bucket=10_000,
) + """, gate AS (
    SELECT doc_id, MAX(m) AS ms FROM scored GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(COALESCE(g.ms, 0) AS INT) AS max_shared_tokens,
       (COALESCE(g.ms, 0) < 5) AS kept
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
LEFT JOIN gate g USING (doc_id)
"""

QUERIES["dedup_incremental_ingest_sa_tokens"] = dedup_incremental_ingest_sa_tokens
ORACLES["dedup_incremental_ingest_sa_tokens"] = INGEST_SA_TOKENS_SQL


def decontaminate_cut_spans_sa_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-DOCUMENT TOKEN-grain span decontamination: leaked
    >= 5-token runs are cut from arriving odd-id docs WHEREVER they
    occur in the token stream, and the doc reassembles
    whitespace-normalized (the token-grain contract).  Completes the
    grain matrix of the decontamination family — char head / char full
    / token full — at the grain Lee et al. 2022 match on; the 32-token
    compare cap is sound for the >= 5 decision by the shared
    truncation argument (operators/suffix.py::
    cut_contaminated_spans_sa_tokens)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import (
        cut_contaminated_spans_sa_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return cut_contaminated_spans_sa_tokens(
        new, seen, "doc_id", "text",
        max_tokens=32, min_tokens=5, bucket_tokens=2, max_bucket=10_000,
        full_doc=True, int_alphabet="auto",
    )


DECONTAMINATE_CUT_SPANS_SA_TOKENS_SQL = _sa_scoring_ctes_tokens(
    new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
    with_off=True, full_doc=True,
    cmp_tokens=32, bucket_tokens=2, max_bucket=10_000,
) + """, marked AS (
    SELECT doc_id, off AS s, off + m - 1 AS e FROM scored WHERE m >= 5
)""" + _ISLAND_COV_CTES + """, alldocs AS (
    SELECT doc_id,
           string_split_regex(trim(COALESCE(text, '')), '\\s+') AS tk
    FROM documents WHERE doc_id % 2 = 1
), tpos AS (
    SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
    FROM alldocs
), keepx AS (
    SELECT t.doc_id,
           COALESCE(string_agg(t.tk[t.i], ' ' ORDER BY t.i)
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
FROM alldocs a
LEFT JOIN keepx k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["decontaminate_cut_spans_sa_tokens"] = decontaminate_cut_spans_sa_tokens
ORACLES["decontaminate_cut_spans_sa_tokens"] = (
    DECONTAMINATE_CUT_SPANS_SA_TOKENS_SQL
)

QUERIES["dedup_incremental_ingest"] = dedup_incremental_ingest


def dedup_incremental_ingest_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same daily-ingest dedup with the portable md5 MinHash family
    (32 perms / 16 bands) — fully oracle-backed: the SQL replays the
    exact gate, signatures, band buckets, Jaccard verification and both
    anti-joins bit-for-bit."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    out = dedup.incremental_ingest_dedup(
        new, seen, "doc_id", "text", num_perm=32, bands=16, portable=True
    )
    return out.select("doc_id", "lang", "source")


_INC_BAND_ROWS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band_idx, m{2 * b} || '|' || m{2 * b + 1} AS bh FROM sig"
    for b in range(16)
)
INCREMENTAL_INGEST_MD5_SQL = f"""
WITH newd AS (
    SELECT * FROM documents WHERE doc_id % 2 = 1
), seenh AS (
    -- h IS NOT NULL: NOT IN over a set containing NULL returns no rows,
    -- which would diverge from Spark's left_anti (NULL-text new docs
    -- must SURVIVE, matching the anti-join)
    SELECT DISTINCT md5(text) AS h FROM documents
    WHERE doc_id % 2 = 0 AND md5(text) IS NOT NULL
), exact_surv AS (
    SELECT * FROM newd WHERE md5(text) NOT IN (SELECT h FROM seenh)
                         OR md5(text) IS NULL
), base AS (
    SELECT doc_id, text FROM exact_surv
    UNION ALL
    SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
), d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM base
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), sig AS (
    SELECT doc_id,
           {_MD5_SIG_COLS}
    FROM e GROUP BY doc_id
), bands AS (
{_INC_BAND_ROWS}
), cand AS (
    SELECT a.doc_id AS new_id, b.doc_id AS seen_id
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bh = b.bh
    WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    GROUP BY 1, 2
), inter AS (
    SELECT c.new_id, ea.n_sh AS n_a, eb.n_sh AS n_b, COUNT(*) AS inter
    FROM cand c
    JOIN e ea ON ea.doc_id = c.new_id
    JOIN e eb ON eb.doc_id = c.seen_id AND ea.shingle = eb.shingle
    GROUP BY c.new_id, c.seen_id, ea.n_sh, eb.n_sh
), confirmed AS (
    SELECT DISTINCT new_id FROM inter
    WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
)
SELECT doc_id, lang, source FROM exact_surv
WHERE doc_id NOT IN (SELECT new_id FROM confirmed)
"""

QUERIES["dedup_incremental_ingest_md5"] = dedup_incremental_ingest_md5
ORACLES["dedup_incremental_ingest_md5"] = INCREMENTAL_INGEST_MD5_SQL


def dedup_consensus_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus near-dup: pairs flagged by BOTH the lexical path
    (portable MinHash-LSH, verified trigram Jaccard ≥ 0.5) AND the
    embedding path (cosine ≥ 0.4 over the aligned embeddings table) —
    the high-precision gate a production semantic-dedup run applies
    before destructive removal.  Every lexical pair is annotated with
    its embedding cosine and the `confirmed` verdict (the synthetic
    embeddings are uncorrelated with the planted text dups, so the
    verdict column is the informative part here).  Each side keeps its
    own sub-quadratic discovery plan; the consensus join moves only
    pair rows."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = dedup.minhash_signatures_portable(
        docs, "doc_id", "text", num_perm=32, shingle_size=3
    )
    text_pairs = dedup.minhash_candidate_pairs(
        sigs, num_perm=32, bands=16, jaccard_threshold=0.5
    )
    e = emb.select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    both = (
        text_pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(similarity.cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
    )
    return both.select(
        "id_a", "id_b", "jaccard", "sim", (F.col("sim") >= 0.4).alias("confirmed")
    )


CONSENSUS_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), sig AS (
    SELECT doc_id,
           {_MD5_SIG_COLS}
    FROM e GROUP BY doc_id
), bands AS (
{_MD5_BAND_ROWS}
), okb AS (
    -- mirror of the Spark hot-bucket cap (max_bucket=10000): buckets
    -- larger than the cap are dropped before pair generation
    SELECT band_idx, bh FROM bands GROUP BY 1, 2
    HAVING COUNT(*) BETWEEN 2 AND 10000
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
    JOIN okb ON okb.band_idx = a.band_idx AND okb.bh = a.bh
    GROUP BY 1, 2
), inter AS (
    SELECT c.id_a, c.id_b, ea.n_sh AS n_a, eb.n_sh AS n_b, COUNT(*) AS inter
    FROM cand c
    JOIN e ea ON ea.doc_id = c.id_a
    JOIN e eb ON eb.doc_id = c.id_b AND ea.shingle = eb.shingle
    GROUP BY 1, 2, 3, 4
), tp AS (
    SELECT id_a, id_b,
           ROUND(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
    FROM inter
    WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.5
), ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT tp.id_a, tp.id_b, tp.jaccard,
       ROUND(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS sim,
       ROUND(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) >= 0.4 AS confirmed
FROM tp
JOIN ev a ON a.vec_id = tp.id_a
JOIN ev b ON b.vec_id = tp.id_b
"""

QUERIES["dedup_consensus_pairs"] = dedup_consensus_pairs
ORACLES["dedup_consensus_pairs"] = CONSENSUS_SQL


def bloom_seen_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter of the seen-corpus content hashes (k=3 md5-derived
    probes into m=4096 bits) — the broadcastable membership prefilter
    that replaces the exact-gate distinct join of incremental ingest
    when the seen side is 100 TB: false positives only re-check, never
    lose data.  Built as one explode ×3 + a distinct on bit positions
    (≤ m rows out regardless of corpus size); the md5 probes make the
    bit set engine-portable."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("h")
    )
    probes = seen.select(
        "h",
        F.explode(F.array(*[F.lit(j) for j in range(3)])).alias("j"),
    )
    from chewdata_spark.operators.curation import md5_hex16

    bit = (
        md5_hex16(F.concat_ws("|", F.col("j").cast("string"), F.col("h"))) % 4096
    )
    return probes.select(bit.alias("bit")).distinct()


BLOOM_SQL = """
WITH seen AS (
    SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
),
probes AS (
    SELECT md5(CAST(j.j AS VARCHAR) || '|' || h) AS ph
    FROM seen, (SELECT unnest(generate_series(0, 2)) AS j) j
)
SELECT DISTINCT
       CAST(((strpos('0123456789abcdef', substr(ph, 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(ph, 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(ph, 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(ph, 4, 1)) - 1) % 4096
            AS INT) AS bit
FROM probes
"""

QUERIES["bloom_seen_hashes"] = bloom_seen_hashes
ORACLES["bloom_seen_hashes"] = BLOOM_SQL


def dedup_clean_corpus_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding near-dup pairs from the
    sub-quadratic clustered GEMM (cosine ≥ 0.4, multi-probe IVF
    blocking) → connected components → anti-join keeping the min-id
    survivor per semantic cluster.  The embedding-space analogue of
    `dedup_clean_corpus_lsh_cc_md5`, and like it fully oracle-backed —
    the SQL replays cluster assignment, pair verification AND the
    transitive clustering (recursive CTE)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators import similarity
    from chewdata_spark.operators.graph import cluster_dedup

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(
        emb, threshold=0.4, centroid_stride=100, nprobe=6
    )
    return cluster_dedup(docs, pairs, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


_SEM_COS = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
CLEAN_CORPUS_SEMANTIC_SQL = f"""
WITH RECURSIVE e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 100 = 0),
asg AS (
    SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({_SEM_COS.format(a='e.v', b='c.cv')}, 6) DESC,
                            c.cid ASC) AS rk
        FROM e, cent c
    ) WHERE rk <= 6
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM asg a JOIN asg b USING (cluster)
    WHERE a.vec_id < b.vec_id
),
pairs AS (
    SELECT id_a, id_b
    FROM cand
    JOIN e ea ON ea.vec_id = id_a
    JOIN e eb ON eb.vec_id = id_b
    WHERE ROUND({_SEM_COS.format(a='ea.v', b='eb.v')}, 6) >= 0.4
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, lbl) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e2.u, r.lbl FROM edges e2 JOIN reach r ON e2.v = r.node
),
lab AS (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM lab WHERE node <> cluster_id)
"""

QUERIES["dedup_clean_corpus_semantic"] = dedup_clean_corpus_semantic
ORACLES["dedup_clean_corpus_semantic"] = CLEAN_CORPUS_SEMANTIC_SQL


def contamination_ranked(
    bench: DataFrame,
    train: DataFrame,
    *,
    max_bucket: int | None = 10_000,
    top_k: int = 3,
    jaccard_threshold: float = 0.3,
) -> DataFrame:
    """Core of `contamination_ranked_pairs` over caller-supplied
    ``(doc_id, text)`` bench/train relations — factored out so the
    hot-bucket cap is unit-testable with a synthetic degenerate corpus
    (tests/test_dedup_recall.py).

    Plan: ONE tagged signature pass over bench ∪ train (the
    incremental-ingest device), bench band rows probe train band rows
    (one (band, bh) shuffle, never bench × train), verification joins
    shingles only for candidates, and the top-k window partitions by
    bench doc (bounded).  Train-side hot buckets (more than
    ``max_bucket`` rows for one (band, bh) — degenerate boilerplate
    hashes) are dropped before the probe, mirrored in the registry
    oracle's HAVING and surfaced via observe() — the same device as
    every sibling LSH path; the count-window shuffle shares the probe
    join's (band_idx, bh) partitioning."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    bench_sigs, train_sigs = dedup.two_sided_signatures(
        bench.select("doc_id", "text"),
        train.select("doc_id", "text"),
        "doc_id",
        "text",
        portable=True,
        num_perm=32,
        tags=("b", "t"),
    )

    def _bands(s: DataFrame, idn: str) -> DataFrame:
        cols = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.concat_ws(
                        "|",
                        F.element_at("sig", 2 * b + 1),
                        F.element_at("sig", 2 * b + 2),
                    ).alias("bh"),
                )
                for b in range(16)
            ]
        )
        return s.select(F.col("id").alias(idn), F.explode(cols).alias("band")).select(
            idn, "band.band_idx", "band.bh"
        )

    train_bands = _bands(train_sigs, "train_id")
    if max_bucket is not None:
        wb = Window.partitionBy("band_idx", "bh")
        train_bands = (
            train_bands.withColumn("_bn", F.count(F.lit(1)).over(wb))
            .observe(
                f"contamination_probe_{next(_OBS_SEQ)}",
                F.sum(F.when(F.col("_bn") > max_bucket, 1).otherwise(0)).alias(
                    "dropped_hot_band_rows"
                ),
            )
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    cand = (
        _bands(bench_sigs, "bench_id")
        .join(train_bands, ["band_idx", "bh"])
        .select("bench_id", "train_id")
        .dropDuplicates(["bench_id", "train_id"])
    )
    sh_b = bench_sigs.select(F.col("id").alias("bench_id"), F.col("shingles").alias("sh_a"))
    sh_t = train_sigs.select(F.col("id").alias("train_id"), F.col("shingles").alias("sh_b"))
    verified = cand.join(sh_b, "bench_id").join(sh_t, "train_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    scored = verified.select(
        "bench_id",
        "train_id",
        F.round(inter / union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)
    w = Window.partitionBy("bench_id").orderBy(
        F.col("jaccard").desc(), F.col("train_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


def contamination_ranked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked benchmark-contamination pairs: for every eval doc
    (doc_id % 7 == 0), the top-3 most lexically similar TRAIN docs
    (portable MinHash-LSH candidates, exact trigram Jaccard ≥ 0.3) —
    `decontaminate_docs` flags overlap; this names the offending pairs
    and how strong each is, which is what an exclusion review reads.
    See :func:`contamination_ranked` for the plan; the train-side
    hot-bucket cap (max_bucket=10000) is mirrored in the oracle's
    HAVING.  Fully oracle-backed."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    return contamination_ranked(bench, train, max_bucket=10_000)


CONTAMINATION_RANKED_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
    FROM d
), e AS (
    SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh
), sig AS (
    SELECT doc_id,
           {_MD5_SIG_COLS}
    FROM e GROUP BY doc_id
), bands AS (
{_MD5_BAND_ROWS}
), okb AS (
    -- mirror of the Spark train-side hot-bucket cap (max_bucket=10000):
    -- (band, bh) buckets with more than 10000 TRAIN rows are dropped
    -- before the probe join
    SELECT band_idx, bh FROM bands WHERE doc_id % 7 <> 0
    GROUP BY 1, 2 HAVING COUNT(*) <= 10000
), cand AS (
    SELECT a.doc_id AS bench_id, b.doc_id AS train_id
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bh = b.bh
    JOIN okb ON okb.band_idx = a.band_idx AND okb.bh = a.bh
    WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
    GROUP BY 1, 2
), inter AS (
    SELECT c.bench_id, c.train_id, ea.n_sh AS n_a, eb.n_sh AS n_b,
           COUNT(*) AS inter
    FROM cand c
    JOIN e ea ON ea.doc_id = c.bench_id
    JOIN e eb ON eb.doc_id = c.train_id AND ea.shingle = eb.shingle
    GROUP BY 1, 2, 3, 4
), scored AS (
    SELECT bench_id, train_id,
           ROUND(inter * 1.0 / (n_a + n_b - inter), 6) AS jaccard
    FROM inter
    WHERE ROUND(inter * 1.0 / (n_a + n_b - inter), 6) >= 0.3
)
SELECT bench_id, train_id, jaccard, CAST(rk AS INT) AS rank
FROM (
    SELECT bench_id, train_id, jaccard,
           ROW_NUMBER() OVER (PARTITION BY bench_id
                              ORDER BY jaccard DESC, train_id ASC) AS rk
    FROM scored
) WHERE rk <= 3
"""

QUERIES["contamination_ranked_pairs"] = contamination_ranked_pairs
ORACLES["contamination_ranked_pairs"] = CONTAMINATION_RANKED_SQL


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rolling-hash device behind
    restic/Borg/LBFS, at word grain): a chunk boundary falls after any
    token whose trailing 4-gram hashes to 0 mod 32 — boundaries move
    WITH the content, so an insertion early in a document re-aligns and
    every later chunk still dedups (fixed-size blocks would all shift).
    Reports the storage-dedup summary: total vs distinct chunks and the
    token volume a chunk-store would save.

    Plan: token explode → per-doc lag window (partitions bounded by
    document length) → one groupBy to chunk grain → one groupBy on the
    chunk hash.  The md5 boundary coin and the ordered string_agg are
    engine-portable, so DuckDB replays chunking bit-for-bit."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    chunks = dedup.cdc_chunks(docs, "doc_id", "text", gram=4, modulus=32)
    by_hash = chunks.groupBy("chash").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("n_toks").alias("n_toks")
    )
    return by_hash.agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("cnt") - F.count(F.lit(1))).alias("dup_chunks"),
        F.round(
            (F.sum("cnt") - F.count(F.lit(1))) / F.sum("cnt"), 6
        ).alias("dup_share"),
        F.sum(F.col("cnt") * F.col("n_toks")).alias("tokens_total"),
        F.sum((F.col("cnt") - 1) * F.col("n_toks")).alias("tokens_dedupable"),
    )


CDC_CHUNK_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(COALESCE(text, '')), '\\s+') AS arr
    FROM documents
), marked AS (
    SELECT doc_id, i - 1 AS pos, arr[i] AS tok,
           CASE WHEN i >= 4
                     AND ((strpos('0123456789abcdef', substr(md5(array_to_string(list_slice(arr, i - 3, i), ' ')), 1, 1)) - 1) * 4096
                          + (strpos('0123456789abcdef', substr(md5(array_to_string(list_slice(arr, i - 3, i), ' ')), 2, 1)) - 1) * 256
                          + (strpos('0123456789abcdef', substr(md5(array_to_string(list_slice(arr, i - 3, i), ' ')), 3, 1)) - 1) * 16
                          + strpos('0123456789abcdef', substr(md5(array_to_string(list_slice(arr, i - 3, i), ' ')), 4, 1)) - 1) % 32 = 0
                THEN 1 ELSE 0 END AS b
    FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM toks)
), chunked AS (
    SELECT doc_id, pos, tok,
           COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS chunk_id
    FROM marked
), chunks AS (
    SELECT doc_id, chunk_id,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chash,
           COUNT(*) AS n_toks
    FROM chunked GROUP BY 1, 2
), by_hash AS (
    SELECT chash, COUNT(*) AS cnt, MIN(n_toks) AS n_toks FROM chunks GROUP BY 1
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS dup_chunks,
       ROUND((SUM(cnt) - COUNT(*)) * 1.0 / SUM(cnt), 6) AS dup_share,
       CAST(SUM(cnt * n_toks) AS BIGINT) AS tokens_total,
       CAST(SUM((cnt - 1) * n_toks) AS BIGINT) AS tokens_dedupable
FROM by_hash
"""

QUERIES["cdc_chunk_dedup"] = cdc_chunk_dedup
ORACLES["cdc_chunk_dedup"] = CDC_CHUNK_SQL


def documents_longest_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide longest repeated substrings via a DISTRIBUTED suffix
    array (prefix doubling + adjacent-suffix LCP) — the suffix-array
    half of Lee et al. 2022's exact-substring dedup, complementing the
    k-gram span path, which marks positions but cannot tell a chimeric
    k-gram island from a substring repeated as a whole
    (operators/suffix.py::longest_repeated_substrings).  First 256
    chars per doc, repeats >= 10 chars, top 20 by (length desc,
    substring asc)."""
    from chewdata_spark.operators.suffix import longest_repeated_substrings

    docs = load_table(spark, sf_dir, "documents")
    return longest_repeated_substrings(
        docs, "doc_id", "text", max_chars=128, min_len=10, top_n=20
    )


LONGEST_REPEATS_SQL = """
WITH d AS (
    SELECT doc_id, substr(text, 1, 128) AS t FROM documents
    WHERE text IS NOT NULL AND length(substr(text, 1, 128)) > 0
), p0 AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t))) AS off FROM d
), ord AS (
    -- one row per DISTINCT suffix string, with its multiplicity
    SELECT substr(t, off) AS suf, COUNT(*) AS m
    FROM p0 GROUP BY 1
), adj AS (
    SELECT suf, m, LEAD(suf) OVER (ORDER BY suf) AS suf2 FROM ord
), lcp AS (
    SELECT suf, m,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(length(suf), length(suf2)))
                   IF substr(suf, i, 1) <> substr(suf2, i, 1)])[1],
               least(length(suf), length(suf2)) + 1) - 1
           END AS l
    FROM adj
), cand AS (
    SELECT substr(suf, 1, l) AS substring, l AS length FROM lcp WHERE l >= 10
    UNION ALL
    SELECT suf, length(suf) FROM ord WHERE m >= 2 AND length(suf) >= 10
)
SELECT substring, CAST(length AS INT) AS length
FROM (SELECT DISTINCT substring, length FROM cand)
ORDER BY length DESC, substring ASC LIMIT 20
"""

QUERIES["documents_longest_repeats"] = documents_longest_repeats
ORACLES["documents_longest_repeats"] = LONGEST_REPEATS_SQL


def documents_repeat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document merged char spans covered by a WHOLE substring >= 30
    chars occurring at least twice in the corpus — Lee et al. 2022's
    exact-substring dedup mark from the distributed suffix array
    (operators/suffix.py::repeat_spans_sa).  The k-gram span twin
    (dedup_duplicate_spans) marks chimeric islands too; this one marks
    only true whole-substring repeats.  First 128 chars per doc."""
    from chewdata_spark.operators.suffix import repeat_spans_sa

    docs = load_table(spark, sf_dir, "documents")
    return repeat_spans_sa(docs, "doc_id", "text", max_chars=128, min_len=30)


REPEAT_SPANS_SQL = """
WITH d AS (
    SELECT doc_id, substr(text, 1, 128) AS t FROM documents
    WHERE text IS NOT NULL AND length(substr(text, 1, 128)) > 0
), p0 AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t))) AS off FROM d
), pos AS (
    SELECT doc_id, off, substr(t, off) AS suf FROM p0
), ord AS (
    SELECT suf, COUNT(*) AS m FROM pos GROUP BY 1
), nb AS (
    SELECT suf, m, length(suf) AS slen,
           LEAD(suf) OVER (ORDER BY suf) AS suf2
    FROM ord
), ln AS (
    SELECT suf, m, slen,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(length(suf), length(suf2)))
                   IF substr(suf, i, 1) <> substr(suf2, i, 1)])[1],
               least(length(suf), length(suf2)) + 1) - 1
           END AS l_next
    FROM nb
), dupg AS (
    -- longest repeated prefix of a suffix = max of LCPs with its sorted
    -- neighbours; identical suffixes (m >= 2) repeat whole
    SELECT suf,
           greatest(CASE WHEN m >= 2 THEN slen ELSE 0 END,
                    l_next,
                    COALESCE(LAG(l_next) OVER (ORDER BY suf), 0)) AS dup_len
    FROM ln
), marked AS (
    SELECT p.doc_id, p.off AS s, p.off + g.dup_len - 1 AS e
    FROM pos p JOIN dupg g USING (suf)
    WHERE g.dup_len >= 30
), isl AS (
    SELECT doc_id, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS ni
    FROM marked
), isl2 AS (
    SELECT doc_id, s, e,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM isl
)
SELECT doc_id, CAST(MIN(s) AS INT) AS span_start, CAST(MAX(e) AS INT) AS span_end
FROM isl2 GROUP BY doc_id, island
"""

QUERIES["documents_repeat_spans"] = documents_repeat_spans
ORACLES["documents_repeat_spans"] = REPEAT_SPANS_SQL


def dedup_cut_spans_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END Lee et al. 2022 exact-substring dedup pipeline:
    distributed suffix array → whole-repeat span marks → spans cut out
    of the text → docs reassembled
    (operators/suffix.py::cut_repeat_spans_sa).  The k-gram twin
    (dedup_cut_spans_corpus) cuts k-gram islands, which may be
    chimeric; this cuts only spans covered by a TRUE whole substring
    repeated >= 2x in the corpus.  Marks within the first 128 chars
    per doc (the declared SA window), repeats >= 30 chars; the tail
    beyond the window is always kept."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa

    docs = load_table(spark, sf_dir, "documents")
    return cut_repeat_spans_sa(docs, "doc_id", "text", max_chars=128, min_len=30)


# the span CTEs replay REPEAT_SPANS_SQL verbatim; the cut is a per-char
# left anti over covered head positions + the untouched tail
CUT_SPANS_SA_SQL = """
WITH d AS (
    SELECT doc_id, substr(text, 1, 128) AS t FROM documents
    WHERE text IS NOT NULL AND length(substr(text, 1, 128)) > 0
), p0 AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t))) AS off FROM d
), pos AS (
    SELECT doc_id, off, substr(t, off) AS suf FROM p0
), ord AS (
    SELECT suf, COUNT(*) AS m FROM pos GROUP BY 1
), nb AS (
    SELECT suf, m, length(suf) AS slen,
           LEAD(suf) OVER (ORDER BY suf) AS suf2
    FROM ord
), ln AS (
    SELECT suf, m, slen,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(length(suf), length(suf2)))
                   IF substr(suf, i, 1) <> substr(suf2, i, 1)])[1],
               least(length(suf), length(suf2)) + 1) - 1
           END AS l_next
    FROM nb
), dupg AS (
    SELECT suf,
           greatest(CASE WHEN m >= 2 THEN slen ELSE 0 END,
                    l_next,
                    COALESCE(LAG(l_next) OVER (ORDER BY suf), 0)) AS dup_len
    FROM ln
), marked AS (
    SELECT p.doc_id, p.off AS s, p.off + g.dup_len - 1 AS e
    FROM pos p JOIN dupg g USING (suf)
    WHERE g.dup_len >= 30
)""" + _ISLAND_COV_CTES + """, alldocs AS (
    SELECT doc_id, COALESCE(text, '') AS full_t,
           substr(COALESCE(text, ''), 1, 128) AS head
    FROM documents
), hpos AS (
    SELECT doc_id, head, unnest(generate_series(1, length(head))) AS i
    FROM alldocs
), hkeep AS (
    SELECT h.doc_id,
           COALESCE(string_agg(substr(h.head, h.i, 1), '' ORDER BY h.i)
                    FILTER (WHERE c.i IS NULL), '') AS kept_head,
           COUNT(*) FILTER (WHERE c.i IS NOT NULL) AS n_cut
    FROM hpos h LEFT JOIN cov c ON h.doc_id = c.doc_id AND h.i = c.i
    GROUP BY h.doc_id
), nsp AS (
    SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(k.kept_head, '') || substr(a.full_t, 129) AS clean_text,
       CAST(COALESCE(n.n_spans, 0) AS INT) AS n_spans,
       CAST(COALESCE(k.n_cut, 0) AS INT) AS n_cut
FROM alldocs a
LEFT JOIN hkeep k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["dedup_cut_spans_sa"] = dedup_cut_spans_sa
ORACLES["dedup_cut_spans_sa"] = CUT_SPANS_SA_SQL


def documents_repeat_spans_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-grain twin of documents_repeat_spans: merged TOKEN spans
    covered by a whole sequence of >= 5 whitespace tokens repeated in
    the corpus, suffix array built over token positions
    (operators/suffix.py::repeat_spans_sa_tokens).  Lee et al. 2022 run
    their suffix arrays over TOKENS for exactly this trade: position
    count (every doubling stage is linear in it) drops by the mean
    token length (~5-6x on this corpus) for the same text-window
    budget, at whole-token detection granularity.  First 64 tokens per
    doc (~ the char twin's 128-char window at 5.9 chars/token)."""
    from chewdata_spark.operators.suffix import repeat_spans_sa_tokens

    docs = load_table(spark, sf_dir, "documents")
    return repeat_spans_sa_tokens(
        docs, "doc_id", "text", max_tokens=64, min_tokens=5
    )


# token-list suffixes: DuckDB compares lists lexicographically
# element-wise with prefix-sorts-first — exactly the order the
# doubling loop induces (0 = past-end sorts first)
REPEAT_SPANS_TOKENS_SQL = """
WITH d0 AS (
    SELECT doc_id,
           list_slice(string_split_regex(trim(text), '\\s+'), 1, 64) AS toks
    FROM documents WHERE text IS NOT NULL
), d AS (
    SELECT doc_id, toks FROM d0
    WHERE len(toks) > 1 OR (len(toks) = 1 AND toks[1] <> '')
), pos AS (
    SELECT doc_id, off, list_slice(toks, off, len(toks)) AS suf
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS off FROM d)
), ord AS (
    SELECT suf, COUNT(*) AS m FROM pos GROUP BY 1
), nb AS (
    SELECT suf, m, len(suf) AS slen,
           LEAD(suf) OVER (ORDER BY suf) AS suf2
    FROM ord
), ln AS (
    SELECT suf, m, slen,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(len(suf), len(suf2)))
                   IF suf[i] <> suf2[i]])[1],
               least(len(suf), len(suf2)) + 1) - 1
           END AS l_next
    FROM nb
), dupg AS (
    SELECT suf,
           greatest(CASE WHEN m >= 2 THEN slen ELSE 0 END,
                    l_next,
                    COALESCE(LAG(l_next) OVER (ORDER BY suf), 0)) AS dup_len
    FROM ln
), marked AS (
    SELECT p.doc_id, p.off AS s, p.off + g.dup_len - 1 AS e
    FROM pos p JOIN dupg g USING (suf)
    WHERE g.dup_len >= 5
), isl AS (
    SELECT doc_id, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS ni
    FROM marked
), isl2 AS (
    SELECT doc_id, s, e,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM isl
)
SELECT doc_id, CAST(MIN(s) AS INT) AS span_start, CAST(MAX(e) AS INT) AS span_end
FROM isl2 GROUP BY doc_id, island
"""

QUERIES["documents_repeat_spans_tokens"] = documents_repeat_spans_tokens
ORACLES["documents_repeat_spans_tokens"] = REPEAT_SPANS_TOKENS_SQL


def dedup_incremental_ingest_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL suffix-array ingest dedup: odd doc_ids arrive, even
    doc_ids are the existing corpus; each arriving doc is ranked
    against the EXISTING suffix order — nearest seen neighbours by
    prefix bucket, max neighbour-LCP = longest substring already in
    the corpus — with NO suffix-array rebuild and no doubling on
    either side (operators/suffix.py::sa_incremental_contamination).
    The MinHash twin (dedup_incremental_ingest) gates on set
    similarity; this gates on EXACT substring contamination >= 30
    chars, Lee et al.'s criterion, at per-batch cost."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import sa_incremental_contamination

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return sa_incremental_contamination(
        new, seen, "doc_id", "text",
        max_chars=128, min_len=30, bucket_len=8,
    )


INCREMENTAL_INGEST_SA_SQL = _sa_scoring_ctes(
    new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
    bucket_len=8, max_bucket=10_000,
) + """, per_doc AS (
    SELECT doc_id, MAX(m) AS msl FROM scored GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(COALESCE(p.msl, 0) AS INT) AS max_shared_len,
       COALESCE(p.msl, 0) < 30 AS kept
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES["dedup_incremental_ingest_sa"] = dedup_incremental_ingest_sa
ORACLES["dedup_incremental_ingest_sa"] = INCREMENTAL_INGEST_SA_SQL


_SA_STREAM_RUN = {"n": 0}


def _sa_seen_bucket_arrays(
    spark, sf_dir, *, max_chars, bucket_len, max_bucket, obs_prefix,
    full_doc=False,
):
    """The static side shared by the streaming SA twins: the even-id
    corpus's DISTINCT suffixes (head-window by default; every position
    of whole docs with ``full_doc=True``, where ``max_chars`` becomes
    the per-suffix compare cap and bucket width grows from <= 128/doc
    to length(doc)/doc) grouped to (prefix bucket -> SORTED suffix
    array), with hot buckets capped at ``max_bucket``
    BEFORE the collect (so a boilerplate bucket never materializes an
    unbounded array row) and the drop count riding the plan as the
    ``<obs_prefix>_<n>/dropped_hot_buckets`` observe metric — the same
    cap the batch twins apply, mirrored in the shared oracle HAVING."""
    from pyspark.sql import functions as F

    t = (
        F.coalesce(F.col("text"), F.lit(""))
        if full_doc
        else F.substring("text", 1, max_chars)
    )
    seen_suf = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(t.alias("t"))
        .filter(F.length("t") > 0)
        .select("t", F.explode(F.expr("sequence(1, length(t))")).alias("off"))
        .select(F.expr(f"substring(t, off, {max_chars})").alias("suf"))
        .distinct()
        .withColumn("_bk", F.substring("suf", 1, bucket_len))
    )
    sizes = seen_suf.groupBy("_bk").agg(
        F.count(F.lit(1)).alias("_n")
    ).observe(
        f"{obs_prefix}_{next(_OBS_SEQ)}",
        F.sum(
            F.when(F.col("_n") > max_bucket, F.lit(1)).otherwise(F.lit(0))
        ).alias("dropped_hot_buckets"),
    )
    return (
        seen_suf.join(
            sizes.filter(F.col("_n") <= max_bucket).select("_bk"),
            "_bk",
            "left_semi",
        )
        .groupBy("_bk")
        .agg(F.sort_array(F.collect_list("suf")).alias("arr"))
    )


def _sa_bs_neighbours(df, *, max_bucket):
    """Adds ``_pred``/``_succ`` — the greatest seen suffix <= ``suf``
    and the least seen suffix > ``suf`` inside the SORTED bucket array
    ``arr`` — via a fixed-depth binary search: O(log ``max_bucket``)
    string compares per arriving suffix.  An earlier revision used two
    ``filter()`` scans (``array_max(filter(arr, x -> x <= suf))``),
    which cost O(|arr|) compares per arrival — the hot bucket then
    multiplied |arr| into every one of its arrivals (~100 s of the
    sf0.1 full-doc stream's wall-clock).  Sortedness makes them equal:
    with ``ub`` = count of elements <= ``suf`` (classic upper-bound
    bisection), ``pred = arr[ub]`` and ``succ = arr[ub+1]``.  The
    iteration count covers ``size(arr) <= max_bucket`` (the cap is
    enforced BEFORE the collect); extra iterations are no-ops once
    lo == hi.  Randomized equivalence vs the filter device:
    tests/test_span_winnowing.py::test_bs_neighbours_equal_filter_scan.
    """
    import math

    from pyspark.sql import functions as F

    iters = max(1, math.ceil(math.log2(max_bucket + 1))) + 1
    ub = f"""
    IF(suf IS NULL OR arr IS NULL, NULL,
      aggregate(
        sequence(1, {iters}),
        named_struct('lo', 0, 'hi', size(arr)),
        (a, i) -> CASE
            WHEN a.lo >= a.hi THEN a
            WHEN element_at(arr, CAST((a.lo + a.hi + 1) DIV 2 AS INT)) <= suf
                THEN named_struct(
                    'lo', CAST((a.lo + a.hi + 1) DIV 2 AS INT), 'hi', a.hi)
            ELSE named_struct(
                'lo', a.lo, 'hi', CAST((a.lo + a.hi + 1) DIV 2 AS INT) - 1)
        END,
        a -> a.lo))
    """
    return (
        df.withColumn("_ub", F.expr(ub))
        .withColumn(
            "_pred", F.expr("IF(_ub >= 1, element_at(arr, _ub), NULL)")
        )
        .withColumn(
            "_succ",
            F.expr(
                "IF(_ub IS NOT NULL AND _ub < size(arr), "
                "element_at(arr, _ub + 1), NULL)"
            ),
        )
    )



def stream_ingest_dedup_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of dedup_incremental_ingest_sa: odd doc_ids
    arrive as a file stream and are gated on exact >= 30-char substring
    contamination against the STATIC even-id corpus.

    The batch twin finds seen neighbours with per-bucket windows; a
    stream can't window across rows, so the static side pre-aggregates
    to (bucket -> SORTED seen-suffix array) and each arriving suffix
    bisects its bucket's array (``_sa_bs_neighbours``: upper-bound
    binary search, O(log max_bucket) compares per arrival) for
    ``pred`` = greatest seen <= suf / ``succ`` = least seen > suf —
    exactly the batch window's seen-before-new tie order, so the SAME
    oracle SQL replays both twins.  Stream-static join is stateless; the only
    stateful operator is the final per-doc max (complete mode,
    availableNow into a memory sink).  ``explode_outer`` keeps
    null/empty-text arrivals in the output at 0.

    SCALE CONTRACT (stream path): each static-side bucket materializes
    as ONE sorted array row, so a bucket's width IS a row's width — a
    boilerplate-heavy corpus (every doc opening with the same
    ``bucket_len`` chars) would build an unbounded row.  Both twins
    therefore share the LSH-family ``max_bucket`` hot-bucket cap:
    buckets wider than 10k distinct seen suffixes are dropped BEFORE
    the collect (here) / the per-bucket window (batch twin), surfaced
    via the ``sa_stream_ingest_<n>/dropped_hot_buckets`` observe
    metric, and mirrored in the shared oracle's HAVING; raising
    ``bucket_len`` toward ``min_len`` splits hot buckets without
    recall loss."""
    import os

    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import sa_incremental_contamination  # noqa: F401  (batch twin)
    from chewdata_spark.streaming.ops import run_to_memory

    max_chars, min_len, bucket_len, max_bucket = 128, 30, 8, 10_000
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    seen_arr = _sa_seen_bucket_arrays(
        spark, sf_dir, max_chars=max_chars, bucket_len=bucket_len,
        max_bucket=max_bucket, obs_prefix="sa_stream_ingest",
    )

    stream = (
        spark.readStream.schema(schema)
        .parquet(path + "*")
        .filter(F.col("doc_id") % 2 == 1)
        .withColumn("t", F.substring("text", 1, max_chars))
        # a micro-batch inherits the FILE source's partitioning — one
        # arriving file would run every downstream bisection on one
        # task.  One narrow doc-grain shuffle (docs, not positions)
        # decouples scoring parallelism from the arrival file layout.
        .select("doc_id", "t")
        .repartition(F.col("doc_id"))
        .withColumn(
            "off",
            F.explode_outer(
                F.when(F.length("t") > 0, F.expr("sequence(1, length(t))"))
            ),
        )
        .withColumn(
            "suf",
            F.when(
                F.col("off").isNotNull(),
                F.expr(f"substring(t, off, {max_chars})"),
            ),
        )
        .withColumn("_bk", F.substring("suf", 1, bucket_len))
    )
    joined = stream.join(seen_arr, "_bk", "left")
    nb = _sa_bs_neighbours(joined, max_bucket=max_bucket)
    # r15: cap the LCP cursor at the true suffix length (suffixes are
    # max_chars-windowed, so LCP <= max_chars by construction) — the
    # default 256 cap paid two extra refinement steps whose first
    # memcmp windows span the whole string (guide §1.2 step 2)
    scored = nb.select(
        "doc_id",
        F.greatest(
            F.when(
                F.col("_pred").isNotNull(),
                F.expr(_CHAR.lcp(b="_pred", cap=max_chars)),
            ).otherwise(0),
            F.when(
                F.col("_succ").isNotNull(),
                F.expr(_CHAR.lcp(b="_succ", cap=max_chars)),
            ).otherwise(0),
        ).alias("_m"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.max("_m").cast("int").alias("max_shared_len")
    )
    out = per_doc.select(
        "doc_id",
        "max_shared_len",
        (F.col("max_shared_len") < min_len).alias("kept"),
    )
    _SA_STREAM_RUN["n"] += 1
    # a stream-static join re-executes the static side EVERY micro-batch
    # — and executing the aggregation pipeline INSIDE a micro-batch is
    # far slower than as a plain batch job (no AQE, no exchange reuse
    # across the cap/observe branches).  Persist AND materialize the
    # bucket arrays before the stream starts: one batch-mode compute,
    # then every micro-batch reads the spillable cache.  At a scale
    # where the arrays outgrow cluster memory, write them to a compacted
    # table once and stream against that instead.
    from pyspark import StorageLevel

    seen_arr.persist(StorageLevel.MEMORY_AND_DISK)
    seen_arr.count()
    try:
        return run_to_memory(
            out, f"_stream_ingest_dedup_sa_{_SA_STREAM_RUN['n']}",
            output_mode="complete",
        )
    finally:
        seen_arr.unpersist()


QUERIES["stream_ingest_dedup_sa"] = stream_ingest_dedup_sa
# the higher-order array neighbours equal the batch window neighbours
# (greatest seen <= suf / least seen > suf), so the batch oracle
# replays the stream verbatim
ORACLES["stream_ingest_dedup_sa"] = INCREMENTAL_INGEST_SA_SQL


def decontaminate_docs_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark decontamination via the incremental SA
    ranker: training docs (doc_id % 97 != 0) rank against the
    benchmark slice's suffix order; `max_shared_len` is the longest
    verbatim run shared with the benchmark and docs with >= 30 shared
    chars flag as contaminated (kept = false).  The n-gram twin
    (decontaminate_docs) counts shared fixed-length 4-grams; this
    reports the exact maximal contamination LENGTH — the quantity
    benchmark-leakage audits actually rank by."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import sa_incremental_contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return sa_incremental_contamination(
        train, bench, "doc_id", "text",
        max_chars=128, min_len=30, bucket_len=8,
    )


DECONTAMINATE_SA_SQL = _sa_scoring_ctes(
    new_where="doc_id % 97 <> 0", seen_where="doc_id % 97 = 0",
    bucket_len=8, max_bucket=10_000,
) + """, per_doc AS (
    SELECT doc_id, MAX(m) AS msl FROM scored GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(COALESCE(p.msl, 0) AS INT) AS max_shared_len,
       COALESCE(p.msl, 0) < 30 AS kept
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) a
LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES["decontaminate_docs_sa"] = decontaminate_docs_sa
ORACLES["decontaminate_docs_sa"] = DECONTAMINATE_SA_SQL


def dedup_cut_spans_sa_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-grain end-to-end SA dedup: whole repeated sequences of
    >= 5 whitespace tokens are cut from the token stream and docs
    reassemble (whitespace-normalized by declaration)
    (operators/suffix.py::cut_repeat_spans_sa_tokens).  At ~5.9
    chars/token the 64-token window covers what the char twin's
    128-char window covers at ~5x fewer suffix positions — on this
    corpus (mean ~50 tokens/doc) it effectively dedups WHOLE docs."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa_tokens

    docs = load_table(spark, sf_dir, "documents")
    return cut_repeat_spans_sa_tokens(
        docs, "doc_id", "text", max_tokens=64, min_tokens=5
    )


CUT_SPANS_SA_TOKENS_SQL = """
WITH d0 AS (
    SELECT doc_id,
           list_slice(string_split_regex(trim(text), '\\s+'), 1, 64) AS toks
    FROM documents WHERE text IS NOT NULL
), d AS (
    SELECT doc_id, toks FROM d0
    WHERE len(toks) > 1 OR (len(toks) = 1 AND toks[1] <> '')
), pos AS (
    SELECT doc_id, off, list_slice(toks, off, len(toks)) AS suf
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS off FROM d)
), ord AS (
    SELECT suf, COUNT(*) AS m FROM pos GROUP BY 1
), nb AS (
    SELECT suf, m, len(suf) AS slen,
           LEAD(suf) OVER (ORDER BY suf) AS suf2
    FROM ord
), ln AS (
    SELECT suf, m, slen,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(len(suf), len(suf2)))
                   IF suf[i] <> suf2[i]])[1],
               least(len(suf), len(suf2)) + 1) - 1
           END AS l_next
    FROM nb
), dupg AS (
    SELECT suf,
           greatest(CASE WHEN m >= 2 THEN slen ELSE 0 END,
                    l_next,
                    COALESCE(LAG(l_next) OVER (ORDER BY suf), 0)) AS dup_len
    FROM ln
), marked AS (
    SELECT p.doc_id, p.off AS s, p.off + g.dup_len - 1 AS e
    FROM pos p JOIN dupg g USING (suf)
    WHERE g.dup_len >= 5
)""" + _ISLAND_COV_CTES + """, alldocs AS (
    SELECT doc_id,
           string_split_regex(trim(COALESCE(text, '')), '\\s+') AS ftoks
    FROM documents
), tpos AS (
    SELECT doc_id, ftoks[i] AS w, i
    FROM (SELECT doc_id, ftoks,
                 unnest(generate_series(1, len(ftoks))) AS i FROM alldocs)
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
FROM alldocs a
LEFT JOIN keep k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["dedup_cut_spans_sa_tokens"] = dedup_cut_spans_sa_tokens
ORACLES["dedup_cut_spans_sa_tokens"] = CUT_SPANS_SA_TOKENS_SQL


def documents_repeat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold TUNING CURVE: for each candidate ``min_len``,
    how many positions start a whole >= min_len-char corpus repeat and
    how many docs carry at least one — the measurement that picks Lee
    et al.'s cut threshold (operators/suffix.py::
    position_repeat_lengths; repeat marks within the declared 128-char
    SA window).  Thresholds with zero coverage still appear (left
    join), so the curve's tail is visible."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import position_repeat_lengths

    docs = load_table(spark, sf_dir, "documents")
    pos = position_repeat_lengths(docs, "doc_id", "text", max_chars=128)
    thresholds = spark.createDataFrame(
        [(l,) for l in (10, 20, 30, 50, 80, 120)], "min_len int"
    )
    return (
        thresholds.join(pos, pos["dup_len"] >= thresholds["min_len"], "left")
        .groupBy("min_len")
        .agg(
            F.count("doc_id").alias("n_positions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("min_len")
    )


REPEAT_PROFILE_SQL = """
WITH d AS (
    SELECT doc_id, substr(text, 1, 128) AS t FROM documents
    WHERE text IS NOT NULL AND length(substr(text, 1, 128)) > 0
), p0 AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t))) AS off FROM d
), pos AS (
    SELECT doc_id, off, substr(t, off) AS suf FROM p0
), ord AS (
    SELECT suf, COUNT(*) AS m FROM pos GROUP BY 1
), nb AS (
    SELECT suf, m, length(suf) AS slen,
           LEAD(suf) OVER (ORDER BY suf) AS suf2
    FROM ord
), ln AS (
    SELECT suf, m, slen,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(length(suf), length(suf2)))
                   IF substr(suf, i, 1) <> substr(suf2, i, 1)])[1],
               least(length(suf), length(suf2)) + 1) - 1
           END AS l_next
    FROM nb
), dupg AS (
    SELECT suf,
           greatest(CASE WHEN m >= 2 THEN slen ELSE 0 END,
                    l_next,
                    COALESCE(LAG(l_next) OVER (ORDER BY suf), 0)) AS dup_len
    FROM ln
), plen AS (
    SELECT p.doc_id, g.dup_len FROM pos p JOIN dupg g USING (suf)
), th AS (
    SELECT unnest([10, 20, 30, 50, 80, 120]) AS min_len
)
SELECT th.min_len,
       COUNT(p.doc_id) AS n_positions,
       COUNT(DISTINCT p.doc_id) AS n_docs
FROM th LEFT JOIN plen p ON p.dup_len >= th.min_len
GROUP BY th.min_len
ORDER BY th.min_len
"""

QUERIES["documents_repeat_profile"] = documents_repeat_profile
ORACLES["documents_repeat_profile"] = REPEAT_PROFILE_SQL


def contamination_evidence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT-grade contamination report: the 20 most benchmark-
    contaminated training docs with the VERBATIM leaked run excerpted
    as evidence — the artifact a leakage review actually reads
    (report threshold 15 chars; the ingest GATE stays at 30).  Per
    train doc the winning position is deterministic (longest run,
    earliest offset on ties); evidence = substring(text, off, len)
    (operators/suffix.py::sa_contamination_scores)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chewdata_spark.operators.suffix import sa_contamination_scores

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    scored = sa_contamination_scores(
        train, bench, "doc_id", "text",
        max_chars=128, min_len=15, bucket_len=8,
    ).filter(F.col("m") >= 15)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("m").desc(), F.col("off").asc()
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        best.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.col("m").alias("leak_len"),
            F.col("off").alias("leak_off"),
            F.expr("substring(text, off, m)").alias("evidence"),
        )
        .orderBy(F.col("leak_len").desc(), F.col("doc_id").asc())
        .limit(20)
    )


CONTAMINATION_EVIDENCE_SQL = _sa_scoring_ctes(
    new_where="doc_id % 97 <> 0", seen_where="doc_id % 97 = 0",
    with_off=True, bucket_len=8, max_bucket=10_000,
) + """, best AS (
    SELECT doc_id, off, m,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY m DESC, off ASC) AS rn
    FROM scored WHERE m >= 15
)
SELECT b.doc_id,
       CAST(b.m AS INT) AS leak_len,
       CAST(b.off AS INT) AS leak_off,
       substr(d.text, b.off, b.m) AS evidence
FROM best b JOIN documents d USING (doc_id)
WHERE b.rn = 1
ORDER BY leak_len DESC, b.doc_id ASC
LIMIT 20
"""

QUERIES["contamination_evidence_topk"] = contamination_evidence_topk
ORACLES["contamination_evidence_topk"] = CONTAMINATION_EVIDENCE_SQL


def documents_longest_repeats_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide longest repeated TOKEN sequences (token-grain twin
    of documents_longest_repeats): top 20 by (token length desc,
    sequence asc), within the first 64 tokens per doc, >= 3 tokens
    (operators/suffix.py::longest_repeated_sequences_tokens)."""
    from chewdata_spark.operators.suffix import (
        longest_repeated_sequences_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    return longest_repeated_sequences_tokens(
        docs, "doc_id", "text", max_tokens=64, min_tokens=3, top_n=20
    )


LONGEST_REPEATS_TOKENS_SQL = """
WITH d0 AS (
    SELECT doc_id,
           list_slice(string_split_regex(trim(text), '\\s+'), 1, 64) AS toks
    FROM documents WHERE text IS NOT NULL
), d AS (
    SELECT doc_id, toks FROM d0
    WHERE len(toks) > 1 OR (len(toks) = 1 AND toks[1] <> '')
), pos AS (
    SELECT doc_id, off, list_slice(toks, off, len(toks)) AS suf
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS off FROM d)
), ord AS (
    SELECT suf, COUNT(*) AS m FROM pos GROUP BY 1
), adj AS (
    SELECT suf, m, LEAD(suf) OVER (ORDER BY suf) AS suf2 FROM ord
), lcp AS (
    SELECT suf, m,
           CASE WHEN suf2 IS NULL THEN 0 ELSE
             COALESCE(
               ([i FOR i IN generate_series(1, least(len(suf), len(suf2)))
                   IF suf[i] <> suf2[i]])[1],
               least(len(suf), len(suf2)) + 1) - 1
           END AS l
    FROM adj
), cand AS (
    SELECT array_to_string(list_slice(suf, 1, l), ' ') AS seq,
           l AS length
    FROM lcp WHERE l >= 3
    UNION ALL
    SELECT array_to_string(suf, ' '), len(suf)
    FROM ord WHERE m >= 2 AND len(suf) >= 3
)
SELECT seq, CAST(length AS INT) AS length
FROM (SELECT DISTINCT seq, length FROM cand)
ORDER BY length DESC, seq ASC LIMIT 20
"""

QUERIES["documents_longest_repeats_tokens"] = documents_longest_repeats_tokens
ORACLES["documents_longest_repeats_tokens"] = LONGEST_REPEATS_TOKENS_SQL


def documents_repeat_spans_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-DOCUMENT whole-repeat spans: merged char spans covered by a
    whole substring >= 30 chars repeated in the corpus, anywhere in the
    doc — the tiled-window suffix array
    (operators/suffix.py::repeat_spans_sa_tiled: 128-char windows
    overlapping by 29, (doc, window) pseudo-doc keys, marks mapped back
    to absolute offsets).  documents_repeat_spans inspects only the
    first 128 chars; on this corpus over half the duplicated-30-gram
    marks live beyond char 128, all invisible to the head window.

    The oracle is a genuinely different algorithm: positions covered by
    a 30-gram occurring >= 2 times corpus-wide — provably the same
    position set (every >= 30-char whole repeat is a union of
    duplicated 30-grams and vice versa; see the operator docstring's
    exactness argument)."""
    from chewdata_spark.operators.suffix import repeat_spans_sa_tiled

    docs = load_table(spark, sf_dir, "documents")
    return repeat_spans_sa_tiled(docs, "doc_id", "text", tile=128, min_len=30)


_SPANS_FULL_CTES = """
WITH d AS (
    SELECT doc_id, COALESCE(text, '') AS t FROM documents
    WHERE length(COALESCE(text, '')) >= 30
), gg AS (
    SELECT doc_id, off, substr(t, off, 30) AS gram
    FROM d, LATERAL unnest(generate_series(1, length(t) - 29)) AS u(off)
), dup AS (
    SELECT gram FROM gg GROUP BY gram HAVING COUNT(*) >= 2
), marked AS (
    SELECT doc_id, off AS s, off + 29 AS e FROM gg JOIN dup USING (gram)
), isl AS (
    SELECT doc_id, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS ni
    FROM marked
), isl2 AS (
    SELECT doc_id, s, e,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM isl
), spans AS (
    SELECT doc_id, MIN(s) AS s, MAX(e) AS e
    FROM isl2 GROUP BY doc_id, island
)
"""

REPEAT_SPANS_FULL_SQL = _SPANS_FULL_CTES + """
SELECT doc_id, CAST(s AS INT) AS span_start, CAST(e AS INT) AS span_end
FROM spans
"""

QUERIES["documents_repeat_spans_full"] = documents_repeat_spans_full
ORACLES["documents_repeat_spans_full"] = REPEAT_SPANS_FULL_SQL


def dedup_cut_spans_sa_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-DOCUMENT Lee et al. 2022 exact-substring dedup: whole-repeat
    spans >= 30 chars marked ANYWHERE in each doc by the tiled-window
    suffix array and cut out
    (operators/suffix.py::cut_repeat_spans_sa_tiled).  Closes the
    declared-window gap of dedup_cut_spans_sa: a repeat at char 500 is
    cut here, while the head-window variant keeps it.  Same independent
    duplicated-30-gram oracle as documents_repeat_spans_full, extended
    with the per-char anti-join cut."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa_tiled

    docs = load_table(spark, sf_dir, "documents")
    return cut_repeat_spans_sa_tiled(
        docs, "doc_id", "text", tile=128, min_len=30
    )


CUT_SPANS_SA_FULL_SQL = _SPANS_FULL_CTES + """
, cov AS (
    SELECT doc_id, unnest(generate_series(s, e)) AS i FROM spans
), alldocs AS (
    SELECT doc_id, COALESCE(text, '') AS full_t FROM documents
), apos AS (
    SELECT doc_id, full_t, unnest(generate_series(1, length(full_t))) AS i
    FROM alldocs
), keepx AS (
    SELECT a.doc_id,
           COALESCE(string_agg(substr(a.full_t, a.i, 1), '' ORDER BY a.i)
                    FILTER (WHERE c.i IS NULL), '') AS clean_text,
           COUNT(*) FILTER (WHERE c.i IS NOT NULL) AS n_cut
    FROM apos a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.i = c.i
    GROUP BY a.doc_id
), nsp AS (
    SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(COALESCE(n.n_spans, 0) AS INT) AS n_spans,
       CAST(COALESCE(k.n_cut, 0) AS INT) AS n_cut
FROM alldocs a
LEFT JOIN keepx k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["dedup_cut_spans_sa_full"] = dedup_cut_spans_sa_full
ORACLES["dedup_cut_spans_sa_full"] = CUT_SPANS_SA_FULL_SQL


def decontaminate_cut_spans_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-grain decontamination (batch): every run of an odd-id
    arriving doc covered by a whole >= 30-char substring already in the
    even-id corpus is cut out and the doc reassembled
    (operators/suffix.py::cut_contaminated_spans_sa).
    dedup_incremental_ingest_sa GATES whole docs on the same evidence;
    this keeps the doc and removes just the leaked runs — the per-span
    train/eval decontamination Lee et al. 2022 apply.  Marks within the
    first 128 chars (declared window, tail kept); hot prefix buckets
    capped at 10k (oracle HAVING mirror)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import cut_contaminated_spans_sa

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return cut_contaminated_spans_sa(
        new, seen, "doc_id", "text",
        max_chars=128, min_len=30, bucket_len=8,
    )


DECONTAMINATE_CUT_SPANS_SA_SQL = _sa_scoring_ctes(
    new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
    with_off=True, bucket_len=8, max_bucket=10_000,
) + """, marked AS (
    SELECT doc_id, off AS s, off + m - 1 AS e FROM scored WHERE m >= 30
)""" + _ISLAND_COV_CTES + """, alldocs AS (
    SELECT doc_id, COALESCE(text, '') AS full_t,
           substr(COALESCE(text, ''), 1, 128) AS head
    FROM documents WHERE doc_id % 2 = 1
), hpos AS (
    SELECT doc_id, head, unnest(generate_series(1, length(head))) AS i
    FROM alldocs
), hkeep AS (
    SELECT h.doc_id,
           COALESCE(string_agg(substr(h.head, h.i, 1), '' ORDER BY h.i)
                    FILTER (WHERE c.i IS NULL), '') AS kept_head,
           COUNT(*) FILTER (WHERE c.i IS NOT NULL) AS n_cut
    FROM hpos h LEFT JOIN cov c ON h.doc_id = c.doc_id AND h.i = c.i
    GROUP BY h.doc_id
), nsp AS (
    SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(k.kept_head, '') || substr(a.full_t, 129) AS clean_text,
       CAST(COALESCE(n.n_spans, 0) AS INT) AS n_spans,
       CAST(COALESCE(k.n_cut, 0) AS INT) AS n_cut
FROM alldocs a
LEFT JOIN hkeep k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["decontaminate_cut_spans_sa"] = decontaminate_cut_spans_sa
ORACLES["decontaminate_cut_spans_sa"] = DECONTAMINATE_CUT_SPANS_SA_SQL


def stream_cut_spans_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of decontaminate_cut_spans_sa — completes the
    stream side of the Lee et al. pipeline: arriving docs are not just
    GATED on contamination (stream_ingest_dedup_sa) but have the
    leaked runs CUT OUT in flight.

    Same static-side device as the ingest twin: the even-id corpus
    pre-aggregates to (prefix bucket -> sorted seen-suffix array, hot
    buckets capped at 10k BEFORE the collect), each arriving suffix
    bisects its bucket's array for pred/succ (``_sa_bs_neighbours``),
    and positions sharing >= 30 chars mark ``[off, off+m-1]``.  A stream cannot window per doc, so the island merge +
    cut collapse into ONE ``aggregate()`` cursor over the doc's own
    sorted (possibly overlapping) marks — the cursor skips covered
    chars, counts islands, and splices the tail beyond the 128-char
    window.  The only stateful operator is a per-``doc_id``
    collect_list of INTEGER marks (complete mode, availableNow into a
    memory sink) — state is O(marks), never the arriving text; the
    splice joins the static doc relation AFTER the sink (the cut is
    stateless given merged marks).  The SAME oracle SQL replays both
    twins."""
    return _stream_cut_spans_sa(spark, sf_dir, full_doc=False)


def stream_cut_spans_sa_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-DOCUMENT streaming span decontamination — the fourth cell
    of the head/full x batch/stream matrix: leaked >= 30-char runs are
    cut from arriving docs WHEREVER they occur, in flight.  Positions
    cover the whole doc on both sides and the 64-char compare cap
    bounds only per-suffix work (sound for the >= 30 decision, chained
    capped marks cover longer runs — see
    decontaminate_cut_spans_sa_full, whose oracle replays this twin
    verbatim)."""
    return _stream_cut_spans_sa(spark, sf_dir, full_doc=True)


def _stream_cut_spans_sa_marks(
    spark: SparkSession, sf_dir: str, *, full_doc: bool
) -> DataFrame:
    """The STATEFUL half of the streaming span cut: arriving suffixes
    scored against the static capped bucket arrays, marks aggregated
    per ``doc_id`` ALONE — the state store carries one row per doc of
    ``(bigint, array<struct<s int, e int>>)`` and nothing else.  State
    size is O(marks), never O(corpus text): earlier revisions grouped
    by ``(doc_id, full text)``, which made the complete-mode state THE
    ARRIVING CORPUS and ran the full-doc variant 6.5x slower than its
    batch twin (round-11 finding).  The text splice is stateless given
    the merged marks, so it happens OUTSIDE the stream — see
    :func:`_stream_cut_spans_sa`.  Pinned by
    tests/test_plan_quality.py::test_stream_cut_spans_state_carries_no_text.

    Returns ``(marks_stream, seen_arr)`` — the caller persists
    ``seen_arr`` for the run (stream-static joins re-execute the static
    side per micro-batch)."""
    import os

    from pyspark.sql import functions as F

    max_chars = 64 if full_doc else 128
    min_len, bucket_len, max_bucket = 30, 8, 10_000
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    seen_arr = _sa_seen_bucket_arrays(
        spark, sf_dir, max_chars=max_chars, bucket_len=bucket_len,
        max_bucket=max_bucket, obs_prefix="sa_stream_cut",
        full_doc=full_doc,
    )

    stream = (
        spark.readStream.schema(schema)
        .parquet(path + "*")
        .filter(F.col("doc_id") % 2 == 1)
        .withColumn("ft", F.coalesce(F.col("text"), F.lit("")))
        .withColumn(
            "t",
            F.col("ft") if full_doc else F.substring("ft", 1, max_chars),
        )
        # decouple scoring parallelism from the arrival file layout:
        # one narrow doc-grain shuffle BEFORE the position explode (see
        # stream_ingest_dedup_sa — same device, same reason)
        .select("doc_id", "t")
        .repartition(F.col("doc_id"))
        .withColumn(
            "off",
            F.explode_outer(
                F.when(F.length("t") > 0, F.expr("sequence(1, length(t))"))
            ),
        )
        .withColumn(
            "suf",
            F.when(
                F.col("off").isNotNull(),
                F.expr(f"substring(t, off, {max_chars})"),
            ),
        )
        .withColumn("_bk", F.substring("suf", 1, bucket_len))
    )
    joined = stream.join(seen_arr, "_bk", "left")
    nb = _sa_bs_neighbours(joined, max_bucket=max_bucket)
    # r15: LCP capped at max_chars (the suffix window length — the
    # exact upper bound on any LCP here); the default 256 cap paid two
    # extra refinement steps with whole-string memcmp windows
    scored = nb.select(
        "doc_id",
        "off",
        F.greatest(
            F.when(
                F.col("_pred").isNotNull(),
                F.expr(_CHAR.lcp(b="_pred", cap=max_chars)),
            ).otherwise(0),
            F.when(
                F.col("_succ").isNotNull(),
                F.expr(_CHAR.lcp(b="_succ", cap=max_chars)),
            ).otherwise(0),
        ).alias("_m"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("_m") >= min_len,
                    F.struct(
                        F.col("off").cast("int").alias("s"),
                        (F.col("off") + F.col("_m") - 1).cast("int").alias("e"),
                    ),
                )
            )
        ).alias("spans")
    )
    return per_doc, seen_arr


def _stream_cut_spans_sa(
    spark: SparkSession, sf_dir: str, *, full_doc: bool
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from chewdata_spark.streaming.ops import run_to_memory

    per_doc, seen_arr = _stream_cut_spans_sa_marks(
        spark, sf_dir, full_doc=full_doc
    )
    _SA_STREAM_RUN["n"] += 1
    kind = "full" if full_doc else "head"
    # persist AND materialize the static bucket arrays before the
    # stream starts — a stream-static join re-executes the static side
    # every micro-batch, and in-micro-batch execution of the build
    # pipeline is far slower than batch mode (see stream_ingest_dedup_sa;
    # same contract, same 100 TB note)
    from pyspark import StorageLevel

    seen_arr.persist(StorageLevel.MEMORY_AND_DISK)
    seen_arr.count()
    try:
        marks = run_to_memory(
            per_doc, f"_stream_cut_spans_sa_{kind}_{_SA_STREAM_RUN['n']}",
            output_mode="complete",
        )
    finally:
        seen_arr.unpersist()

    # Stateless finish OUTSIDE the stream: the cut is a pure function of
    # (merged marks, text), so the text rides the static doc relation —
    # one equi-join on doc_id, never the state store.
    path = os.path.join(sf_dir, "documents.parquet")
    docs = (
        spark.read.parquet(path)
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("ft")
        )
    )
    cut = F.expr(
        """
        aggregate(
          spans,
          named_struct('p', 1, 'acc', ''),
          (a, sp) -> if(sp.e < a.p, a,
              named_struct(
                  'p', CAST(sp.e + 1 AS INT),
                  'acc', concat(a.acc,
                                substring(ft, a.p, greatest(sp.s, a.p) - a.p)))),
          a -> concat(a.acc, substring(ft, a.p))
        )
        """
    )
    n_spans = F.expr(
        """
        aggregate(
          spans,
          named_struct('le', CAST(0 AS INT), 'n', 0),
          (a, sp) -> named_struct(
              'le', CAST(greatest(a.le, sp.e) AS INT),
              'n', a.n + IF(sp.s > a.le + 1 OR a.n = 0, 1, 0))
        ).n
        """
    )
    return marks.join(docs, "doc_id").select(
        "doc_id",
        cut.alias("clean_text"),
        n_spans.cast("int").alias("n_spans"),
        (F.length("ft") - F.length(cut)).cast("int").alias("n_cut"),
    )


QUERIES["stream_cut_spans_sa"] = stream_cut_spans_sa
ORACLES["stream_cut_spans_sa"] = DECONTAMINATE_CUT_SPANS_SA_SQL


def dedup_cut_spans_sa_tokens_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-DOCUMENT token-grain exact-sequence dedup: whole >= 5-token
    repeats marked ANYWHERE in each doc by the TILED token-grain
    suffix array (64-token windows overlapping by 4) and cut from the
    token stream (operators/suffix.py::cut_repeat_spans_sa_tokens_tiled;
    whitespace-normalized reassembly, the token-grain contract).
    Completes the grain symmetry with dedup_cut_spans_sa_full — the
    oracle is the same independent algorithm one alphabet up: coverage
    by 5-token grams occurring >= 2 times corpus-wide."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa_tokens_tiled

    docs = load_table(spark, sf_dir, "documents")
    return cut_repeat_spans_sa_tokens_tiled(
        docs, "doc_id", "text", tile=64, min_tokens=5
    )


CUT_SPANS_SA_TOKENS_FULL_SQL = """
WITH d0 AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
    FROM documents WHERE text IS NOT NULL
), d AS (
    SELECT doc_id, toks FROM d0
    WHERE len(toks) > 1 OR (len(toks) = 1 AND toks[1] <> '')
), gg AS (
    SELECT doc_id, off, list_slice(toks, off, off + 4) AS gram
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - 4)) AS off
          FROM d WHERE len(toks) >= 5)
), dup AS (
    SELECT gram FROM gg GROUP BY gram HAVING COUNT(*) >= 2
), marked AS (
    SELECT doc_id, off AS s, off + 4 AS e FROM gg JOIN dup USING (gram)
)""" + _ISLAND_COV_CTES + """, alldocs AS (
    SELECT doc_id,
           string_split_regex(trim(COALESCE(text, '')), '\\s+') AS ftoks
    FROM documents
), tpos AS (
    SELECT doc_id, ftoks[i] AS w, i
    FROM (SELECT doc_id, ftoks,
                 unnest(generate_series(1, len(ftoks))) AS i FROM alldocs)
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
FROM alldocs a
LEFT JOIN keep k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["dedup_cut_spans_sa_tokens_full"] = dedup_cut_spans_sa_tokens_full
ORACLES["dedup_cut_spans_sa_tokens_full"] = CUT_SPANS_SA_TOKENS_FULL_SQL


def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE benchmark-leakage report — the audit table that tells
    an ingest owner WHICH feed is leaking the eval set: training docs
    (doc_id % 97 != 0) rank against the benchmark slice's suffix order
    (operators/suffix.py::sa_incremental_contamination, >= 30-char
    exact runs), then roll up by ingest source: doc count, contaminated
    count (the exact INT pair IS the contamination share — no float
    column to hash), and the worst verbatim run length.  Sources
    with zero contamination still appear — the all-clear rows are the
    point of an audit."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import sa_incremental_contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    gate = sa_incremental_contamination(
        train, bench, "doc_id", "text",
        max_chars=128, min_len=30, bucket_len=8,
    )
    return (
        gate.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0))
            .cast("int")
            .alias("n_contaminated"),
            F.max("max_shared_len").cast("int").alias("worst_run_len"),
        )
        .orderBy("source")
    )


CONTAMINATION_BY_SOURCE_SQL = _sa_scoring_ctes(
    new_where="doc_id % 97 <> 0", seen_where="doc_id % 97 = 0",
    bucket_len=8, max_bucket=10_000,
) + """, per_doc AS (
    SELECT doc_id, MAX(m) AS msl FROM scored GROUP BY doc_id
), gate AS (
    SELECT a.doc_id, d.source,
           COALESCE(p.msl, 0) AS msl
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) a
    JOIN documents d USING (doc_id)
    LEFT JOIN per_doc p USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(CASE WHEN msl >= 30 THEN 1 ELSE 0 END) AS INT)
           AS n_contaminated,
       CAST(MAX(msl) AS INT) AS worst_run_len
FROM gate GROUP BY source ORDER BY source
"""

QUERIES["contamination_by_source"] = contamination_by_source
ORACLES["contamination_by_source"] = CONTAMINATION_BY_SOURCE_SQL


def decontaminate_cut_spans_sa_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-DOCUMENT span-grain decontamination: leaked >= 30-char runs
    are cut from arriving odd-id docs WHEREVER they occur — no head
    window on either side (decontaminate_cut_spans_sa declares one; a
    leak at char 500 survives it).  Unlike the repeat-spans family this
    needs no window tiling: no suffix array is built, so positions
    simply cover the whole doc and ``max_chars=64`` bounds only the
    per-suffix COMPARE length — sound for the >= 30 decision because
    truncating BOTH sides at any L >= min_len preserves "shared prefix
    >= min_len" exactly, and a run longer than the cap is covered by
    chained overlapping capped marks
    (operators/suffix.py::cut_contaminated_spans_sa, full_doc=True)."""
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import cut_contaminated_spans_sa

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return cut_contaminated_spans_sa(
        new, seen, "doc_id", "text",
        max_chars=64, min_len=30, bucket_len=8, full_doc=True,
    )


DECONTAMINATE_CUT_SPANS_SA_FULL_SQL = _sa_scoring_ctes(
    new_where="doc_id % 2 = 1", seen_where="doc_id % 2 = 0",
    with_off=True, full_doc=True, cmp_len=64,
    bucket_len=8, max_bucket=10_000,
) + """, marked AS (
    SELECT doc_id, off AS s, off + m - 1 AS e FROM scored WHERE m >= 30
)""" + _ISLAND_COV_CTES + """, alldocs AS (
    SELECT doc_id, COALESCE(text, '') AS full_t
    FROM documents WHERE doc_id % 2 = 1
), apos AS (
    SELECT doc_id, full_t, unnest(generate_series(1, length(full_t))) AS i
    FROM alldocs
), keepx AS (
    SELECT a.doc_id,
           COALESCE(string_agg(substr(a.full_t, a.i, 1), '' ORDER BY a.i)
                    FILTER (WHERE c.i IS NULL), '') AS clean_text,
           COUNT(*) FILTER (WHERE c.i IS NOT NULL) AS n_cut
    FROM apos a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.i = c.i
    GROUP BY a.doc_id
), nsp AS (
    SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(COALESCE(n.n_spans, 0) AS INT) AS n_spans,
       CAST(COALESCE(k.n_cut, 0) AS INT) AS n_cut
FROM alldocs a
LEFT JOIN keepx k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
"""

QUERIES["decontaminate_cut_spans_sa_full"] = decontaminate_cut_spans_sa_full
ORACLES["decontaminate_cut_spans_sa_full"] = DECONTAMINATE_CUT_SPANS_SA_FULL_SQL

QUERIES["stream_cut_spans_sa_full"] = stream_cut_spans_sa_full
ORACLES["stream_cut_spans_sa_full"] = DECONTAMINATE_CUT_SPANS_SA_FULL_SQL
