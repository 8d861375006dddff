"""Operator-level tests for corpus curation (decontamination, repetition,
packing, sampling, unigram LM).  Oracle equivalence is swept separately in
test_correctness.py; these pin behaviors oracles can't see — determinism
across partitionings, synthetic repetition fixtures, plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from chewdata_spark.operators import curation
from chewdata_spark.plans.inspection import join_counts
from chewdata_spark.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    train = _docs(
        spark,
        [
            (1, "zeta alpha beta gamma delta end"),  # shares one 4-gram
            (2, "totally different words here now"),
        ],
    )
    out = curation.decontaminate(train, bench, "doc_id", "text", n=4).collect()
    assert {(r.doc_id, r.n_hit_grams) for r in out} == {(1, 1)}


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = curation.decontaminate(docs, bench, "doc_id", "text", n=4)
    assert join_counts(out)["broadcast_hash"] >= 1


def test_repetition_stats_synthetic(spark):
    # 3 identical lines of 4 tokens; every trigram/bigram repeats.
    text = "a b c d\na b c d\na b c d"
    out = curation.repetition_stats(_docs(spark, [(1, text)]), "doc_id", "text").collect()[0]
    assert out.dup_line_frac == round(2 / 3, 6)
    # 10 trigrams total ("d\na" spans lines), duplicates exist
    assert out.dup_trigram_frac > 0
    assert 0 < out.top_bigram_frac <= 1


def test_repetition_stats_clean_doc(spark):
    out = curation.repetition_stats(
        _docs(spark, [(1, "all tokens here are unique words")]), "doc_id", "text"
    ).collect()[0]
    assert out.dup_line_frac == 0.0
    assert out.dup_trigram_frac == 0.0
    # every bigram occurs once: top fraction = 1/n_bigrams
    assert out.top_bigram_frac == 0.2


def test_pack_sequences_offsets_partition_invariant(spark):
    rows = [(i, "w " * (i % 7 + 1)) for i in range(100)]
    df = _docs(spark, rows)
    tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    a = curation.pack_sequences(df, "doc_id", tok, seq_len=16, num_partitions=1)
    b = curation.pack_sequences(df, "doc_id", tok, seq_len=16, num_partitions=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # offsets are the exclusive prefix sum in doc_id order
    got = {r.doc_id: r for r in b.collect()}
    acc = 0
    for i in range(100):
        assert got[i].start_offset == acc
        acc += i % 7 + 1


def test_pack_sequences_spanning_doc(spark):
    df = _docs(spark, [(1, "w " * 10), (2, "w " * 10)])
    tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    out = {r.doc_id: r for r in curation.pack_sequences(df, "doc_id", tok, seq_len=8).collect()}
    assert (out[1].first_seq, out[1].last_seq, out[1].n_seqs) == (0, 1, 2)
    assert (out[2].first_seq, out[2].last_seq, out[2].n_seqs) == (1, 2, 2)


def test_stratified_sample_deterministic_and_rate(spark):
    rows = [(i, "x", "en" if i % 2 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curation.stratified_sample(df, "lang", {"en": 0.5, "zh": 0.05}, "doc_id")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # md5 is uniform: expect ~500 en, ~50 zh with slack
    assert 400 <= counts["en"] <= 600
    assert 20 <= counts.get("zh", 0) <= 85
    # rerun picks the identical sample
    again = curation.stratified_sample(df, "lang", {"en": 0.5, "zh": 0.05}, "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())


def test_stratified_sample_default_rate_drops_unknown(spark):
    df = spark.createDataFrame(
        [(1, "x", "qq"), (2, "x", "en")], "doc_id long, text string, lang string"
    )
    out = curation.stratified_sample(df, "lang", {"en": 1.0}, "doc_id").collect()
    assert [r.doc_id for r in out] == [2]


def test_unigram_logprob_orders_common_above_rare(spark):
    df = _docs(
        spark,
        [
            (1, "the the the the"),  # all high-frequency
            (2, "the the the zyzzyva"),  # one rare token
        ],
    )
    out = {r.doc_id: r.avg_logprob for r in curation.unigram_logprob(df, "doc_id", "text").collect()}
    assert out[1] > out[2]


def test_weighted_mix_epoch_counts(spark):
    from chewdata_spark.operators.curation import weighted_mix
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh") for i in range(400)],
        "doc_id long, lang string",
    )
    out = weighted_mix(docs, "lang", {"en": 2.5, "zh": 0.5}, "doc_id")
    per_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # en: 200 docs * 2.5 → 500 expected, half-sample is hash-exact not
    # random but concentrates near the rate; zh: 200 * 0.5 → 100
    assert 440 <= per_lang["en"] <= 560
    assert 70 <= per_lang["zh"] <= 130
    # full copies are exact: every en doc appears at epochs 1 and 2
    full = out.filter((F.col("lang") == "en") & (F.col("epoch") <= 2)).count()
    assert full == 400
    # determinism: a second run yields the identical multiset
    again = weighted_mix(docs, "lang", {"en": 2.5, "zh": 0.5}, "doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_shard_shuffle_layout(spark):
    from chewdata_spark.operators.curation import shard_shuffle
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = shard_shuffle(docs, "doc_id", num_shards=16, seed="0")
    rows = out.collect()
    assert len(rows) == 1000  # a shuffle permutes, never drops
    # positions are 1..n_s contiguous inside every shard
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(16))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # md5 spreads evenly: no shard more than 2x the fair share
    assert max(len(v) for v in by_shard.values()) < 2 * (1000 / 16)
    # a different seed produces a different permutation, same layout
    out2 = shard_shuffle(docs, "doc_id", num_shards=16, seed="1")
    assert sorted(map(tuple, out2.collect())) != sorted(map(tuple, rows))


def test_shard_shuffle_matches_naive_global_rank(spark):
    # the two-level prefix-sum pos must equal the spec: ROW_NUMBER()
    # OVER (PARTITION BY shard ORDER BY md5, key) — and the shard cap
    # is 65536 now, so a >256 shard count must work
    from chewdata_spark.operators.curation import shard_shuffle
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    import pytest

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    for n in (16, 300, 1024):
        out = shard_shuffle(docs, "doc_id", num_shards=n, seed="0")
        got = {(r["doc_id"]): (r["shard"], r["pos"]) for r in out.collect()}

        h = F.md5(F.concat_ws(":", F.lit("0"), F.col("doc_id").cast("string")))
        dig = lambda i: F.expr(
            f"locate(substring(_h, {i}, 1), '0123456789abcdef') - 1"
        )
        naive = (
            docs.withColumn("_h", h)
            .withColumn(
                "shard",
                ((dig(1) * 4096 + dig(2) * 256 + dig(3) * 16 + dig(4)) % n).cast("int"),
            )
            .withColumn(
                "pos",
                F.row_number()
                .over(Window.partitionBy("shard").orderBy("_h", "doc_id"))
                .cast("bigint"),
            )
        )
        want = {(r["doc_id"]): (r["shard"], r["pos"]) for r in naive.collect()}
        assert got == want, f"num_shards={n}: prefix-sum pos diverges from spec"
    with pytest.raises(ValueError):
        shard_shuffle(docs, "doc_id", num_shards=70000)


def test_weighted_mix_saturated_fraction_keeps_all(spark):
    # w % 1 >= 0.9999924 rounds the 16-bit threshold up to 65536, whose
    # "%04x" rendering is the 5-char "10000" — lexicographically BELOW
    # most hashes, which silently dropped ~15/16 of the copy before the
    # saturation guard.  A saturated fraction must keep ~100%.
    from chewdata_spark.operators.curation import weighted_mix
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "en") for i in range(300)], "doc_id long, lang string"
    )
    for w, copies in ((2.9999999, 3), (0.9999999, 1)):
        out = weighted_mix(docs, "lang", {"en": w}, "doc_id")
        assert out.count() == 300 * copies, f"w={w} dropped saturated epoch rows"


def test_weighted_mix_zero_weight_drops_stratum(spark):
    from chewdata_spark.operators.curation import weighted_mix
    import pytest

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh") for i in range(50)], "doc_id long, lang string"
    )
    out = weighted_mix(docs, "lang", {"en": 1.0, "zh": 0.0}, "doc_id")
    langs = {r["lang"] for r in out.collect()}
    assert langs == {"en"}  # sequence(1,0) descends — zh must vanish, not emit epoch 0
    with pytest.raises(ValueError):
        weighted_mix(docs, "lang", {"en": -1.0}, "doc_id")


def test_curation_ops_compose_end_to_end(spark):
    """The pretraining pipeline shape: filter (curate) → epoch-mix →
    shard-shuffle, all composing on one DataFrame without schema
    conflicts, with the epoch column surviving into the shard layout."""
    from chewdata_spark.operators.curation import shard_shuffle, weighted_mix
    from chewdata_spark.operators.text import strip_boilerplate
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 3 else "zh",
             "this is a perfectly fine body sentence with words.\nHome | About")
            for i in range(90)
        ],
        "doc_id long, lang string, text string",
    )
    clean = strip_boilerplate(docs, "doc_id", "text")
    assert clean.filter(F.col("n_dropped") != 1).count() == 0
    mixed = weighted_mix(
        clean.join(docs.select("doc_id", "lang"), "doc_id"),
        "lang", {"en": 1.0, "zh": 2.0}, "doc_id",
    )
    sharded = shard_shuffle(mixed, "doc_id", num_shards=4, seed="0")
    rows = sharded.collect()
    # 60 en * 1 + 30 zh * 2 = 120 rows, every one placed in a shard
    assert len(rows) == 120
    assert {r["shard"] for r in rows} <= set(range(4))
    assert all(r["epoch"] in (1, 2) for r in rows)
    # same doc at different epochs shares a shard (keyed by doc_id) but
    # the pipeline kept both copies distinct
    zh = [r for r in rows if r["lang"] == "zh"]
    assert len(zh) == 60 and len({(r["doc_id"], r["epoch"]) for r in zh}) == 60


def test_stratum_quota_matches_naive_rank(spark):
    # two-level prefix-sum rank must equal ROW_NUMBER per stratum over
    # md5 order, and respect the cap exactly
    from chewdata_spark.operators.curation import stratum_quota
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    import pytest

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(600)], "doc_id long, source string"
    )
    out = stratum_quota(docs, "source", "doc_id", max_per_stratum=50)
    got = {(r["doc_id"], r["source"]) for r in out.collect()}
    h = F.md5(F.concat_ws(":", F.lit("0"), F.col("doc_id").cast("string")))
    naive = (
        docs.withColumn("_h", h)
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("source").orderBy("_h", "doc_id")),
        )
        .filter(F.col("rnk") <= 50)
    )
    want = {(r["doc_id"], r["source"]) for r in naive.collect()}
    assert got == want
    per_src = {}
    for _, s in got:
        per_src[s] = per_src.get(s, 0) + 1
    assert all(v == 50 for v in per_src.values())
    with pytest.raises(ValueError):
        stratum_quota(docs, "source", "doc_id", max_per_stratum=0)


def test_length_bucket_batches_padding_bound_and_determinism(spark):
    from chewdata_spark.operators.curation import length_bucket_batches
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "w " * (2 + i % 300)) for i in range(500)], "doc_id long, text string"
    )
    tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    out = length_bucket_batches(docs, "doc_id", tok, batch_size=8).collect()
    assert len(out) == 500
    by_batch = {}
    for r in out:
        by_batch.setdefault((r["len_bucket"], r["batch_idx"]), []).append(r)
    for (bucket, _), rows in by_batch.items():
        lens = [r["n_tokens"] for r in rows]
        # batchmates share the power-of-two band: pad-to-longest < 2x
        assert max(lens) < 2 * min(lens) or min(lens) == 1
        assert sorted(r["slot"] for r in rows) == list(range(len(rows)))
        assert len(rows) <= 8
    # per bucket: every batch full except possibly the last
    per_bucket = {}
    for (bucket, bi), rows in by_batch.items():
        per_bucket.setdefault(bucket, []).append((bi, len(rows)))
    for bucket, batches in per_bucket.items():
        batches.sort()
        assert all(n == 8 for _, n in batches[:-1])
    # deterministic
    again = length_bucket_batches(docs, "doc_id", tok, batch_size=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_packed_sequence_map_covers_every_slot_once(spark):
    # fragments of each sequence must tile it exactly: disjoint, ordered,
    # summing to seq_len (except the final partial sequence)
    from chewdata_spark.operators.curation import packed_sequence_map
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "w " * (3 + i % 23)) for i in range(200)], "doc_id long, text string"
    )
    tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    rows = packed_sequence_map(docs, "doc_id", tok, seq_len=16).collect()
    total_tokens = sum(3 + i % 23 for i in range(200))
    assert sum(r["length"] for r in rows) == total_tokens
    by_seq = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], []).append(r)
    last_seq = max(by_seq)
    for sid, frags in by_seq.items():
        frags.sort(key=lambda r: r["seq_start"])
        at = 0
        for fr in frags:
            assert fr["seq_start"] == at, (sid, fr)
            assert fr["length"] >= 1
            at += fr["length"]
        if sid != last_seq:
            assert at == 16  # fully tiled
    # fragment doc_offsets are consistent with doc lengths
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, frags in per_doc.items():
        frags.sort(key=lambda r: r["doc_offset"])
        assert frags[0]["doc_offset"] == 0
        assert sum(f["length"] for f in frags) == 3 + doc_id % 23


class TestCanonicalizeUrl:
    """Ground-truth cases for the URL canonicalizer — the regex/string
    math must behave identically to the DuckDB oracle, so pin the
    semantics on hand-written URLs."""

    CASES = [
        # (raw, canonical)
        ("https://www.Site.COM/a/b/", "https://site.com/a/b"),
        ("HTTPS://site.com:443/a", "https://site.com/a"),
        ("http://site.com:80/a", "http://site.com/a"),
        ("https://site.com:8080/a", "https://site.com:8080/a"),  # non-default kept
        ("https://site.com", "https://site.com/"),
        ("https://site.com/#frag", "https://site.com/"),
        ("https://site.com/p?utm_source=x&b=2&a=1", "https://site.com/p?a=1&b=2"),
        ("https://site.com/p?utm_campaign=x&fbclid=abc&gclid=1", "https://site.com/p"),
        ("https://site.com/p?", "https://site.com/p"),
        # path case preserved; query order normalized
        ("https://WWW.site.com/CaseSensitive?z=1&a=2", "https://site.com/CaseSensitive?a=2&z=1"),
    ]

    def test_ground_truth(self, spark):
        from pyspark.sql import functions as F

        from chewdata_spark.operators.curation import canonicalize_url

        df = spark.createDataFrame([(r,) for r, _ in self.CASES], ["url"])
        got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
        for (raw, want), g in zip(self.CASES, got):
            assert g == want, (raw, g, want)

    def test_idempotent(self, spark):
        # canonicalizing a canonical URL is a no-op — required for
        # incremental pipelines that re-ingest their own output
        from pyspark.sql import functions as F

        from chewdata_spark.operators.curation import canonicalize_url

        df = spark.createDataFrame([(c,) for _, c in self.CASES], ["url"])
        got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
        assert got == [c for _, c in self.CASES]


def test_sft_loss_mask_tiles_and_masks(spark):
    # turns must tile the doc's tokens exactly, each turn's content
    # sits between its role marker and end marker (gap of exactly 2
    # template tokens between consecutive contents), and loss lands
    # only on assistant content
    from pyspark.sql import functions as F

    from chewdata_spark.queries.curation_queries import sft_loss_mask_layout
    from chewdata_spark.tables import load_table

    rows = sft_loss_mask_layout(spark, "/root/testdata/sf0.001").collect()
    n_by_doc = {
        r.doc_id: r.n
        for r in load_table(spark, "/root/testdata/sf0.001", "documents")
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+")).alias("n"),
        )
        .collect()
    }
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, turns in per_doc.items():
        turns.sort(key=lambda r: r.turn_idx)
        assert 2 <= len(turns) <= 4
        assert sum(t.content_len for t in turns) == n_by_doc[doc_id]
        at = 1  # position 0 is the first role marker
        for t in turns:
            assert t.content_start == at, (doc_id, t)
            at += t.content_len + 2  # end marker + next role marker
            assert t.role == ("user" if t.turn_idx % 2 == 0 else "assistant")
            assert t.loss_tokens == (t.content_len if t.role == "assistant" else 0)


def test_sa_curate_corpus_bpe_repeat_only_contract(spark, sf_dir):
    """The config-reachable BPE repeat-only path (grain="bpe", no
    benchmark): trains merges on the curated text, cuts whole
    >= min_len-piece repeats, and keeps the evidence contract — every
    surviving doc appears once with non-negative span evidence, and
    n_cut is bounded by the doc's own piece count."""
    import pyspark.sql.functions as F

    from chewdata_spark.operators.curation import sa_curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    out = sa_curate_corpus(
        docs, "doc_id", "text",
        grain="bpe", min_len=9, compare_cap=64, bucket_len=4,
        bpe_iters=16, carry=["source"],
    )
    assert out.columns == ["doc_id", "source", "clean_text",
                           "n_spans", "n_cut"]
    rows = out.collect()
    assert len(rows) > 0
    assert len({r.doc_id for r in rows}) == len(rows)
    # REAL conservation check: rebuild the piece streams with the same
    # public operators the core composes (normalize -> corpus-global
    # line dedup -> 16-merge train -> encode) and require
    # kept + n_cut == total pieces for EVERY doc — a double-counting
    # or dropped-piece bug in the cut stage fails here
    from chewdata_spark.operators import dedup as D
    from chewdata_spark.operators.text import normalize_text
    from chewdata_spark.operators.tokenize import (
        bpe_encode_corpus_rules,
        bpe_train_rules,
    )

    norm = normalize_text(docs, "doc_id", "text").select(
        "doc_id", F.col("norm_text").alias("text")
    )
    lined = D.dedup_lines_global(norm, "doc_id", "text", min_words=5).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    rules = bpe_train_rules(lined, "text", iters=16)
    totals = {
        r.doc_id: r.n for r in bpe_encode_corpus_rules(
            lined, "doc_id", "text", rules
        ).select(
            "doc_id",
            F.size(F.split(F.trim("pieces"), r"\s+")).alias("n"),
        ).collect()
    }
    assert any(r.n_cut > 0 for r in rows), "corpus should contain repeats"
    for r in rows:
        assert r.n_spans >= 0 and r.n_cut >= 0
        if r.n_spans == 0:
            assert r.n_cut == 0
        kept = len(r.clean_text.split()) if r.clean_text.strip() else 0
        assert kept + r.n_cut == totals[r.doc_id], (
            r.doc_id, kept, r.n_cut, totals[r.doc_id])


def test_multiline_docs_match_normalize_and_flagship_oracles(spark, tmp_path):
    # No documents.parquet in the test data holds a newline, so the
    # oracles' newline handling is pinned here: multi-line docs with
    # spaces around line breaks and blank-line runs, a passage shared
    # across a line break, and a leak from the even-id benchmark slice.
    # normalize_text keeps the newlines, and so must its DuckDB replay;
    # the decontaminating SA flagship (sa_curate_corpus) must match its
    # composed oracle on the same corpus.
    import random

    import duckdb
    import pandas as pd

    from chewdata_spark.queries.curation_queries import (
        ORACLES,
        curate_pipeline_decontam_sa,
    )
    from chewdata_spark.queries.text_queries import (
        _normalize_sql,
        normalize_documents,
    )
    from tests.oracle import compare

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]

    def line(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    shared = "the shared passage runs on \n across one line break here"
    rows = []
    for d in range(1, 13):
        parts = [line(rng.randint(6, 12)) for _ in range(rng.randint(2, 4))]
        if d % 3 == 0:
            parts.insert(1, shared)
        if d in (4, 7):  # odd 7 leaks even 4's line
            parts.append("benchmark answer key line number four is here")
        text = " \n ".join(parts) + ("\n\n\n\ntail " + line(6) if d % 4 == 1 else "")
        rows.append((d, text, "en", f"s{d % 2}", len(text)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    sf_dir = str(tmp_path)

    norm = normalize_documents(spark, sf_dir)
    assert all("\n" in r["norm_text"] for r in norm.collect())
    ok, msg = compare(norm, con, _normalize_sql())
    assert ok, msg
    flagship = ORACLES["curate_pipeline_decontam_sa"]
    ok, msg = compare(curate_pipeline_decontam_sa(spark, sf_dir), con, flagship)
    assert ok, msg
    # the planted passage and leak are really cut, not vacuously equal
    assert con.sql(f"SELECT max(n_cut) FROM ({flagship})").fetchone()[0] > 0


def test_warm_sa_curate_corpus_reuses_generated_code(spark):
    # One sa_curate_corpus run generates more classes than Spark's
    # default codegen cache (100) holds; get_spark sizes the cache so a
    # warm rerun compiles next to nothing.  The int ids and the unusual
    # tile/min_len/compare_cap/bucket_len make most of this test's
    # classes new to the session's cache, even after the registry's SA
    # queries have run in it.
    import random

    from chewdata_spark.operators.curation import sa_curate_corpus

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    shared = " ".join(rng.choice(vocab) for _ in range(12))
    rows = []
    for d in range(1, 21):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(15, 30)))
        rows.append((d, text + (" " + shared if d % 3 == 0 else ""), f"s{d % 2}"))
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    compiled = []
    for _ in range(3):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        sa_curate_corpus(
            docs.filter("doc_id % 2 = 1"), "doc_id", "text",
            benchmark=docs.filter("doc_id % 2 = 0"),
            tile=96, min_len=24, compare_cap=48, bucket_len=6,
            quota_col="source", carry=["source"],
        ).collect()
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[0] > 100, compiled
    assert compiled[2] < 30, compiled
