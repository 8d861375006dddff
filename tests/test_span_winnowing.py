"""duplicate_spans (Lee et al. substring dedup) and winnowing
fingerprints (MOSS) — checked against planted duplicates and a
pure-Python reference implementation."""

from __future__ import annotations

import hashlib
import random

import pytest

from chewdata_spark.operators.dedup import duplicate_spans
from chewdata_spark.operators.text import winnowing_fingerprints


def test_duplicate_spans_finds_planted_passage(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    passage = " ".join(rng.choice(vocab) for _ in range(20))

    def noise(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    docs = spark.createDataFrame(
        [
            (1, noise(30) + " " + passage + " " + noise(25)),
            (2, passage + " " + noise(40)),
            (3, noise(60)),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_spans(docs, "doc_id", "text", k=8).collect()}
    # doc 1: passage occupies tokens 30..49; doc 2: tokens 0..19
    assert 1 in out and 2 in out and 3 not in out
    assert out[1]["span_start"] == 30 and out[1]["span_end"] == 49
    assert out[2]["span_start"] == 0 and out[2]["span_end"] == 19
    assert out[1]["span_tokens"] == 20 and out[2]["span_tokens"] == 20


def test_duplicate_spans_merges_overlapping_hits(spark):
    # two shared passages separated by < k tokens of noise merge into
    # one maximal span; separated by > k they stay apart
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    p1 = " ".join(rng.choice(vocab) for _ in range(10))
    p2 = " ".join(rng.choice(vocab) for _ in range(10))
    far = " ".join(rng.choice(vocab) for _ in range(30))
    docs = spark.createDataFrame(
        [
            (1, p1 + " " + far + " " + p2),
            (2, p1 + " xxx " + p2),
            (3, p1),
            (4, p2),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, "doc_id", "text", k=4).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 2  # far apart -> two spans
    assert len(by_doc[3]) == 1 and len(by_doc[4]) == 1


def _py_winnow(words: list[str], k: int, w: int) -> set[tuple[int, str]]:
    """Reference winnowing: min of each window of w gram hashes,
    rightmost on ties; short docs yield the pos-0 partial window."""
    grams = [
        hashlib.md5(" ".join(words[i : i + k]).encode()).hexdigest()
        for i in range(len(words) - k + 1)
    ]
    if not grams:
        return set()
    out = set()
    n_starts = len(grams) - w + 1 if len(grams) >= w else 1
    for s in range(n_starts):
        win = grams[s : s + w]
        m = min(win)
        pos = max(i for i, h in enumerate(win, start=s) if h == m)
        out.add((pos, m))
    return out


def test_winnowing_matches_python_reference(spark):
    rng = random.Random(3)
    vocab = [f"t{i}" for i in range(50)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 60))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(docs, "doc_id", "text", k=5, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in rows:
        want = _py_winnow(text.split(), 5, 4)
        assert got.get(doc_id, set()) == want, f"doc {doc_id}"


def test_winnowing_shared_passage_shares_fingerprints(spark):
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(300)]
    passage = " ".join(rng.choice(vocab) for _ in range(15))
    docs = spark.createDataFrame(
        [
            (1, " ".join(rng.choice(vocab) for _ in range(20)) + " " + passage),
            (2, passage + " " + " ".join(rng.choice(vocab) for _ in range(20))),
        ],
        "doc_id long, text string",
    )
    rows = winnowing_fingerprints(docs, "doc_id", "text", k=5, w=4).collect()
    fps = {1: set(), 2: set()}
    for r in rows:
        fps[r["doc_id"]].add(r["fp"])
    # a 15-token shared passage guarantees shared fingerprints for any
    # match of length >= w + k - 1 = 8 tokens
    assert fps[1] & fps[2]


def test_dedup_lines_global_first_occurrence_wins(spark):
    from chewdata_spark.operators.dedup import dedup_lines_global

    boiler = "subscribe to our newsletter for more great content today"
    docs = spark.createDataFrame(
        [
            (1, "unique first line of document one\n" + boiler + "\nshort"),
            (2, boiler + "\nanother unique line in document two here"),
            (3, "totally distinct content for document three\n" + boiler),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines_global(docs, "doc_id", "text").collect()}
    # doc 1 holds the first occurrence (lowest doc_id) -> keeps it
    assert boiler in out[1]["clean_text"] and out[1]["n_dropped"] == 0
    # docs 2 and 3 lose their copy but keep everything else
    assert boiler not in out[2]["clean_text"] and out[2]["n_dropped"] == 1
    assert out[2]["clean_text"] == "another unique line in document two here"
    assert boiler not in out[3]["clean_text"] and out[3]["n_dropped"] == 1
    # the short line (< 5 words) never participates in dedup
    assert out[1]["clean_text"].endswith("short")


def test_dedup_lines_global_short_lines_survive_repetition(spark):
    from chewdata_spark.operators.dedup import dedup_lines_global

    docs = spark.createDataFrame(
        [(1, "ok\nok\nok"), (2, "ok")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup_lines_global(docs, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "ok\nok\nok" and out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == "ok"


def test_cut_duplicate_spans_first_occurrence_survives(spark):
    from chewdata_spark.operators.dedup import cut_duplicate_spans

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(500)]
    passage = " ".join(rng.choice(vocab) for _ in range(12))
    pre = " ".join(rng.choice(vocab) for _ in range(15))
    post = " ".join(rng.choice(vocab) for _ in range(15))
    docs = spark.createDataFrame(
        [
            (1, passage + " " + pre),
            (2, post + " " + passage),
            (3, pre.upper()),  # case-normalized tokens differ from pre? no — lower() collapses
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in cut_duplicate_spans(docs, "doc_id", "text", k=8).collect()}
    # doc 1 owns the first occurrence: nothing cut
    assert out[1]["n_cut"] == 0 and passage in out[1]["clean_text"]
    # doc 2 loses the whole 12-token passage, keeps its own prefix
    assert out[2]["n_cut"] == 12
    assert passage not in out[2]["clean_text"]
    assert out[2]["clean_text"].startswith(post)
    # every doc appears in the output with its token count
    assert out[2]["n_tokens"] == 27


def test_incremental_ingest_drops_exact_and_near_dups(spark):
    import random

    from chewdata_spark.operators.dedup import incremental_ingest_dedup

    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(400)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    base = doc(60)
    near = base.rsplit(" ", 3)[0] + " altered tail words"  # high jaccard
    seen = spark.createDataFrame(
        [(0, base), (2, doc(50)), (4, doc(50))], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, base),       # exact dup of seen -> drop
            (3, near),       # near dup of seen -> drop
            (5, doc(55)),    # fresh -> keep
            (7, doc(40)),    # fresh -> keep
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_ingest_dedup(new, seen, "doc_id", "text").collect()
    )
    assert kept == [5, 7]
    # idempotent: re-running over the same inputs is stable
    again = sorted(
        r["doc_id"]
        for r in incremental_ingest_dedup(new, seen, "doc_id", "text").collect()
    )
    assert kept == again


def test_cdc_chunking_is_shift_resistant(spark):
    """The reason CDC exists: prepending tokens re-aligns at the next
    content-defined boundary, so all downstream chunks keep their
    hashes; fixed-size blocks would all shift and nothing would dedup."""
    from chewdata_spark.operators.dedup import cdc_chunks

    base = " ".join(f"tok{i * 7 % 97}x{i}" for i in range(400))
    shifted = "zz qq " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    chunks = cdc_chunks(df, "doc_id", "text").collect()
    h1 = {r.chash for r in chunks if r.doc_id == 1}
    h2 = {r.chash for r in chunks if r.doc_id == 2}
    assert len(h1) > 5, "corpus too short to form chunks — bad test setup"
    shared = len(h1 & h2) / len(h1)
    # everything after the first re-aligned boundary dedups
    assert shared >= 0.8, f"CDC shift resistance broken: {shared:.2f} shared"
    # sanity: the first chunk (containing the insertion) differs
    assert h1 != h2


def test_longest_repeated_substrings_planted(spark):
    """Suffix-array LRS: finds the longest substring repeated across
    docs (whole-substring semantics — a chimeric overlap must NOT win),
    handles exact-duplicate suffixes (rank multiplicity), respects
    min_len, and orders by (length desc, substring asc)."""
    from chewdata_spark.operators.suffix import longest_repeated_substrings

    rows = [
        (1, "xxTHE QUICK BROWN FOXzz"),
        (2, "aaTHE QUICK BROWN FOXbb"),      # 19-char cross-doc repeat
        (3, "prefix COMMON MIDDLE suffix1"),
        (4, "other  COMMON MIDDLE suffix2"),  # 14-char ' COMMON MIDDLE '
        (5, "unique pentagonal content"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = longest_repeated_substrings(
        df, "doc_id", "text", max_chars=64, min_len=10, top_n=5
    ).collect()
    subs = [(r.substring, r.length) for r in out]
    assert subs[0] == (" COMMON MIDDLE suffix", 21), subs
    assert ("THE QUICK BROWN FOX", 19) in subs, subs
    # ordered by length desc
    assert [l for _, l in subs] == sorted([l for _, l in subs], reverse=True)
    # nothing shorter than min_len
    assert all(l >= 10 for _, l in subs)


def test_suffix_ranks_total_order(spark):
    """Prefix-doubling ranks reproduce the brute-force suffix sort
    (non-dense position ranks: 1 + count of strictly smaller suffixes;
    identical suffixes share a rank)."""
    from chewdata_spark.operators.suffix import suffix_ranks

    rows = [(1, "banana"), (2, "bandana"), (3, "banana")]  # doc 3 = doc 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_id, r.off): r["rank"]
           for r in suffix_ranks(df, "doc_id", "text", max_chars=8).collect()}
    all_sufs = {(d, o): t[o - 1:] for (d, t) in rows for o in range(1, len(t) + 1)}
    vals = list(all_sufs.values())
    want = {k: 1 + sum(1 for v in vals if v < s) for k, s in all_sufs.items()}
    assert got == want


def test_repeat_spans_sa_whole_substring_semantics(spark):
    """SA repeat spans mark only WHOLE repeated substrings: a chimeric
    overlap (every window duplicated against a different partner but
    the full span never repeated) must not be merged into one span
    beyond what is actually repeated; adjacent/overlapping marks merge
    into islands."""
    from chewdata_spark.operators.suffix import repeat_spans_sa

    rows = [
        (1, "AAAA0123456789BBBB"),   # "0123456789" repeated in doc 2
        (2, "CCCC0123456789DDDD"),
        (3, "no repeats here at all!"),
        (4, "xyxyxyxyxyxyxyxyxyxyxy"),  # self-overlapping periodic repeat
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {}
    for r in repeat_spans_sa(df, "doc_id", "text",
                             max_chars=64, min_len=10).collect():
        out.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # the shared 10-char run: doc1 positions 5..14, doc2 positions 5..14
    assert out[1] == [(5, 14)], out
    assert out[2] == [(5, 14)], out
    assert 3 not in out
    # periodic text: suffixes repeat against shifted selves -> one island
    assert out[4] == [(1, 22)], out


def test_cut_repeat_spans_sa_cuts_only_whole_repeats(spark):
    """End-to-end SA cut: the repeated passage is cut from EVERY doc
    that carries it, non-repeated text survives verbatim, and the tail
    beyond the max_chars window is never touched."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa

    shared = "0123456789abcdefghij"  # 20 chars, >= min_len
    rows = [
        (1, "AAAA" + shared + "BBBB"),
        (2, "CCCC" + shared + "DDDD"),
        (3, "unique text, nothing repeated"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_spans, r.n_cut)
        for r in cut_repeat_spans_sa(
            df, "doc_id", "text", max_chars=64, min_len=10
        ).collect()
    }
    assert got[1] == ("AAAABBBB", 1, 20)
    assert got[2] == ("CCCCDDDD", 1, 20)
    assert got[3] == ("unique text, nothing repeated", 0, 0)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 0)


def test_cut_repeat_spans_sa_keeps_tail_beyond_window(spark):
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa

    shared = "0123456789abcdefghij"
    tail = "TAIL-BEYOND-THE-WINDOW" * 2
    rows = [(1, shared + "xx" + tail), (2, shared + "yy" + tail)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # window of 24 chars: the shared 20-char head is marked; everything
    # past char 24 (including the identical tails, also repeated but
    # outside the declared window) is kept verbatim
    got = {
        r.doc_id: r.clean_text
        for r in cut_repeat_spans_sa(
            df, "doc_id", "text", max_chars=24, min_len=10
        ).collect()
    }
    full1 = shared + "xx" + tail
    full2 = shared + "yy" + tail
    assert got[1] == full1[20:], got
    assert got[2] == full2[20:], got


def test_repeat_spans_sa_tokens_planted(spark):
    """Token-grain SA spans: a shared 6-token run marks token indices
    in both docs; substring-of-a-token sharing (quick vs quicker) never
    marks; span bounds are token positions."""
    from chewdata_spark.operators.suffix import repeat_spans_sa_tokens

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "hello world the quick brown fox jumps over a fence"),
        (3, "quicker browner foxes jumping overly lazily nothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {}
    for r in repeat_spans_sa_tokens(
        df, "doc_id", "text", max_tokens=16, min_tokens=5
    ).collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # "the quick brown fox jumps over": doc1 tokens 1-6, doc2 tokens 3-8
    assert got[1] == [(1, 6)], got
    assert got[2] == [(3, 8)], got
    assert 3 not in got


def test_suffix_ranks_tokens_total_order(spark):
    """Non-dense token-grain rank contract: 1 + count of strictly
    smaller token suffixes (token-array lexicographic order, prefix
    sorts first)."""
    from chewdata_spark.operators.suffix import suffix_ranks_tokens

    rows = [
        (1, "b a b a b"),
        (2, "a b a"),
        (3, "c"),
    ]
    toks = {i: t.split() for i, t in rows}
    sufs = [
        (d, o + 1, tuple(ts[o:])) for d, ts in toks.items()
        for o in range(len(ts))
    ]
    want = {
        (d, o): 1 + sum(1 for _, _, x in sufs if x < s) for d, o, s in sufs
    }
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_id, r.off): r.rank
        for r in suffix_ranks_tokens(
            df, "doc_id", "text", max_tokens=8
        ).collect()
    }
    assert got == want


def test_sa_incremental_contamination_vs_brute_force(spark):
    """Incremental SA ranking: arriving docs' longest substring shared
    with the SEEN corpus matches a brute-force scan (at the declared
    grain: lengths below bucket_len read as 0); exact long runs drop,
    short overlaps keep."""
    from chewdata_spark.operators.suffix import sa_incremental_contamination

    seen_rows = [
        (2, "The existing corpus contains this exact boilerplate sentence right here."),
        (4, "Another seen document with totally different words."),
    ]
    new_rows = [
        (1, "prefix junk The existing corpus contains this exact boilerplate tail"),
        (3, "completely novel arriving text zqx"),
        (5, None),
        (7, "different words."),
    ]
    seen = spark.createDataFrame(seen_rows, "doc_id int, text string")
    new = spark.createDataFrame(new_rows, "doc_id int, text string")
    out = {
        r.doc_id: (r.max_shared_len, r.kept)
        for r in sa_incremental_contamination(
            new, seen, "doc_id", "text",
            max_chars=128, min_len=30, bucket_len=8,
        ).collect()
    }

    def brute(nt):
        if not nt:
            return 0
        best = 0
        for _, st in seen_rows:
            for i in range(len(nt)):
                for j in range(len(st)):
                    l = 0
                    while (i + l < len(nt) and j + l < len(st)
                           and nt[i + l] == st[j + l]):
                        l += 1
                    best = max(best, l)
        return best

    for did, nt in new_rows:
        b = brute(nt)
        expect = b if b >= 8 else 0
        assert out[did] == (expect, expect < 30), (did, out[did], b)
    # the 52-char contaminated doc drops, everything else keeps
    assert out[1][1] is False
    assert out[3][1] and out[5][1] and out[7][1]


def test_sa_incremental_contamination_rejects_wide_bucket(spark):
    from chewdata_spark.operators.suffix import sa_incremental_contamination

    df = spark.createDataFrame([(1, "abc")], "doc_id int, text string")
    with pytest.raises(ValueError, match="bucket_len"):
        sa_incremental_contamination(
            df, df, "doc_id", "text", min_len=10, bucket_len=16
        )


def test_cut_repeat_spans_sa_tokens_planted(spark):
    """Token-grain SA cut: a shared 6-token run is cut from both docs,
    survivors rejoin with single spaces (whitespace-normalized by
    declaration), and tokens beyond the window are kept."""
    from chewdata_spark.operators.suffix import cut_repeat_spans_sa_tokens

    rows = [
        (1, "the quick brown fox jumps over a lazy dog"),
        (2, "intro  words   the quick brown fox jumps over the end"),
        (3, "nothing shared at all in this one document"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_spans, r.n_cut)
        for r in cut_repeat_spans_sa_tokens(
            df, "doc_id", "text", max_tokens=16, min_tokens=5
        ).collect()
    }
    # shared run "the quick brown fox jumps over": doc1 tokens 1-6,
    # doc2 tokens 3-8 (after whitespace-normalizing split)
    assert got[1] == ("a lazy dog", 1, 6), got
    assert got[2] == ("intro words the end", 1, 6), got
    assert got[3] == ("nothing shared at all in this one document", 0, 0)
    assert got[4] == ("", 0, 0)


def test_sa_contamination_scores_randomized_brute_force(spark):
    """Seeded-random repeat-heavy corpus (3-letter alphabet): the
    operator's per-doc max must equal an exact Python replay of the
    bucketed-neighbour definition (bucket = first bucket_len chars,
    pred = greatest seen suffix <= s in bucket, succ = least seen > s,
    m = max LCP) — including short-suffix buckets and exact ties."""
    import random

    from chewdata_spark.operators.suffix import sa_incremental_contamination

    rng = random.Random(99)

    def doc(n):
        return "".join(rng.choice("abc") for _ in range(n))

    seen_rows = [(i * 2, doc(rng.randint(0, 40))) for i in range(15)]
    new_rows = [(i * 2 + 1, doc(rng.randint(0, 40))) for i in range(15)]
    B, L, MC = 4, 6, 32

    seen_sufs = sorted(
        {t[:MC][o:] for _, t in seen_rows if t for o in range(len(t[:MC]))}
    )

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    def brute(t):
        best = 0
        t = t[:MC]
        for o in range(len(t)):
            s = t[o:]
            bucket = [x for x in seen_sufs if x[:B] == s[:B]]
            pred = max((x for x in bucket if x <= s), default=None)
            succ = min((x for x in bucket if x > s), default=None)
            for nb in (pred, succ):
                if nb is not None:
                    best = max(best, lcp(s, nb))
        return best

    seen = spark.createDataFrame(seen_rows, "doc_id int, text string")
    new = spark.createDataFrame(new_rows, "doc_id int, text string")
    got = {
        r.doc_id: r.max_shared_len
        for r in sa_incremental_contamination(
            new, seen, "doc_id", "text",
            max_chars=MC, min_len=L, bucket_len=B,
        ).collect()
    }
    for did, t in new_rows:
        assert got[did] == brute(t), (did, t, got[did], brute(t))


def test_longest_repeated_sequences_tokens_planted(spark):
    from chewdata_spark.operators.suffix import (
        longest_repeated_sequences_tokens,
    )

    rows = [
        (1, "the quick brown fox jumps over a lazy dog"),
        (2, "intro words the quick brown fox jumps over the end"),
        (3, "quick brown cows moo loudly"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = [
        (r.seq, r.length)
        for r in longest_repeated_sequences_tokens(
            df, "doc_id", "text", max_tokens=16, min_tokens=2, top_n=5
        ).collect()
    ]
    # the 6-token shared run wins; the 2-token "quick brown" from doc 3
    # is subsumed as its prefix (dedup on the sequence string keeps the
    # longest distinct sequences)
    assert got[0] == ("the quick brown fox jumps over", 6), got
    assert all(l >= 2 for _, l in got)


def test_tiled_sa_cut_finds_repeat_beyond_head_window(spark):
    """The tiled-window SA (full-document coverage) cuts a repeat
    planted beyond char 128 that the head-window variant provably
    misses, leaves a repeat-free doc untouched, and its span set
    matches a brute-force duplicated-min_len-gram coverage oracle."""
    import string

    from chewdata_spark.operators.suffix import (
        cut_repeat_spans_sa,
        cut_repeat_spans_sa_tiled,
        repeat_spans_sa_tiled,
    )

    rng = random.Random(11)

    def noise(n):
        return "".join(
            rng.choice(string.ascii_lowercase + " ") for _ in range(n)
        )

    secret = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN"  # 49 chars
    texts = {
        1: noise(300) + secret + noise(60),
        2: noise(280) + secret + noise(90),
        3: noise(420),
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    head = {
        r["doc_id"]: r
        for r in cut_repeat_spans_sa(
            df, "doc_id", "text", max_chars=128, min_len=30
        ).collect()
    }
    assert head[1]["n_cut"] == 0 and head[2]["n_cut"] == 0  # invisible
    full = {
        r["doc_id"]: r
        for r in cut_repeat_spans_sa_tiled(
            df, "doc_id", "text", tile=128, min_len=30
        ).collect()
    }
    assert full[1]["clean_text"] == texts[1].replace(secret, "")
    assert full[2]["clean_text"] == texts[2].replace(secret, "")
    assert full[3]["n_cut"] == 0 and full[3]["clean_text"] == texts[3]

    # exactness: spans == maximal runs of positions covered by a
    # duplicated 30-gram (the operator docstring's equivalence)
    from collections import Counter

    grams = Counter(
        t[i : i + 30]
        for t in texts.values()
        for i in range(len(t) - 29)
    )
    expected = []
    for d, t in texts.items():
        cov = sorted(
            {
                j
                for i in range(len(t) - 29)
                if grams[t[i : i + 30]] >= 2
                for j in range(i + 1, i + 31)
            }
        )
        run_s = None
        for k, j in enumerate(cov):
            if run_s is None:
                run_s = j
            if k + 1 == len(cov) or cov[k + 1] != j + 1:
                expected.append((d, run_s, j))
                run_s = None
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeat_spans_sa_tiled(
            df, "doc_id", "text", tile=128, min_len=30
        ).collect()
    )
    assert got == sorted(expected)


def test_tiled_sa_rejects_bad_min_len(spark):
    from chewdata_spark.operators.suffix import repeat_spans_sa_tiled

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        repeat_spans_sa_tiled(df, "doc_id", "text", tile=64, min_len=65)
    with pytest.raises(ValueError):
        repeat_spans_sa_tiled(df, "doc_id", "text", tile=64, min_len=1)


def test_sa_ingest_hot_bucket_cap(spark):
    """The SA ingest hot-prefix-bucket cap (the LSH-family max_bucket
    device): a seen-side bucket wider than the cap is dropped before
    neighbour-finding, so a match detectable ONLY inside that bucket is
    no longer reported, while matches in cold buckets still gate —
    and uncapped (max_bucket=None) finds both."""
    from chewdata_spark.operators.suffix import sa_incremental_contamination

    # exactly-30-char run whose ONLY detecting suffix starts in the
    # boilerplate bucket ("BOILERPL"); tails share <= 29 chars
    run = "BOILERPLATE COMMON OPENING 001"
    assert len(run) == 30
    mid = "unique middle passage nobody else shares x"  # 42 chars
    seen_rows = [(2 * i, run[:28] + f"{i:02d}" + f" filler tail {i}")
                 for i in range(5)]
    seen_rows[0] = (0, run + " filler tail 0")
    seen_rows.append((10, "zz lead-in " + mid + " trailer"))
    new_rows = [
        (1, "prefix padding " + run),        # only hot-bucket evidence
        (3, "other padding " + mid + " yy"), # cold-bucket evidence
        (5, "no overlap at all here truly"),
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    seen = spark.createDataFrame(seen_rows, "doc_id long, text string")

    def run_gate(cap):
        return {
            r["doc_id"]: r
            for r in sa_incremental_contamination(
                new, seen, "doc_id", "text",
                max_chars=128, min_len=30, bucket_len=8, max_bucket=cap,
            ).collect()
        }

    uncapped = run_gate(None)
    assert uncapped[1]["kept"] is False          # hot-bucket match found
    assert uncapped[3]["kept"] is False
    assert uncapped[5]["kept"] is True

    capped = run_gate(3)  # BOILERPL bucket holds 5 seen suffixes > 3
    assert capped[1]["kept"] is True             # dropped with the bucket
    assert capped[1]["max_shared_len"] < 30
    assert capped[3]["kept"] is False            # cold bucket unaffected
    assert capped[5]["kept"] is True


def test_interval_overlap_join_rejects_name_clashes(spark):
    from chewdata_spark.operators.rangejoin import interval_overlap_join
    import datetime as dt

    d = dt.date(2024, 1, 1)
    base = spark.createDataFrame(
        [(1, d, d)], "k long, s date, e date"
    )
    clash = base.withColumn("_iv_lc", base["k"])
    with pytest.raises(ValueError, match="reserved"):
        interval_overlap_join(
            clash, base.selectExpr("k", "s as s2", "e as e2"),
            on=["k"], left_start="s", left_end="e",
            right_start="s2", right_end="e2",
        )
    with pytest.raises(ValueError, match="BOTH sides"):
        interval_overlap_join(
            base, base, on=["k"], left_start="s", left_end="e",
            right_start="s", right_end="e",
        )


def test_cut_contaminated_spans_sa(spark):
    """Span-grain decontamination: runs >= min_len shared with the
    STATIC corpus are cut from arriving docs (and only those), checked
    against a pure-Python per-position shared-length oracle."""
    from chewdata_spark.operators.suffix import cut_contaminated_spans_sa

    leak1 = "A" * 0 + "THE COMMON LEAKED EVAL PASSAGE NUMBER ONE X"   # 43
    leak2 = "ANOTHER SHARED BENCHMARK SENTENCE HERE YY"              # 41
    seen_rows = [
        (0, "lead-in text " + leak1 + " seen tail"),
        (2, leak2 + " more seen text"),
    ]
    new_rows = [
        (1, "start " + leak1 + " mid " + leak2[:20] + "zz end"),  # 1 cut run
        (3, "totally fresh arriving document with new words"),
        (5, None),
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    seen = spark.createDataFrame(seen_rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cut_contaminated_spans_sa(
            new, seen, "doc_id", "text",
            max_chars=128, min_len=30, bucket_len=8,
        ).collect()
    }
    # python oracle: per-position longest shared prefix vs seen window
    W = 128
    seen_sufs = {
        t[:W][i:] for _, t in seen_rows for i in range(len(t[:W]))
    }
    for did, txt in new_rows:
        t = (txt or "")[:W]
        cov = set()
        for i in range(len(t)):
            suf = t[i:]
            m = 0
            for ss in seen_sufs:
                lcp = 0
                for a, b in zip(suf, ss):
                    if a != b:
                        break
                    lcp += 1
                m = max(m, lcp)
            if m >= 30:
                cov.update(range(i + 1, i + m + 1))
        full = txt or ""
        expect = "".join(
            ch for j, ch in enumerate(full, start=1) if j not in cov
        )
        assert out[did]["clean_text"] == expect, (did, out[did], expect)
        assert out[did]["n_cut"] == len(cov), did
    assert out[1]["n_spans"] == 1 and leak1 not in out[1]["clean_text"]
    assert out[3]["clean_text"] == new_rows[1][1]
    assert out[5]["clean_text"] == "" and out[5]["n_spans"] == 0


def test_tiled_sa_tokens_cut_finds_repeat_beyond_head_window(spark):
    """Token-grain tiled SA: a >= 5-token repeat planted beyond the
    64-token head window is cut by the tiled variant (head-window twin
    misses it); span set matches brute-force duplicated-5-token-gram
    coverage."""
    from chewdata_spark.operators.suffix import (
        cut_repeat_spans_sa_tokens,
        cut_repeat_spans_sa_tokens_tiled,
        repeat_spans_sa_tokens_tiled,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(300)]

    def noise(n):
        return [rng.choice(vocab) for _ in range(n)]

    passage = ["LEAK1", "LEAK2", "LEAK3", "LEAK4", "LEAK5", "LEAK6"]
    toks = {
        1: noise(80) + passage + noise(10),   # repeat at token 81+
        2: noise(70) + passage + noise(20),
        3: noise(95),
    }
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in sorted(toks.items())],
        "doc_id long, text string",
    )
    head = {
        r["doc_id"]: r
        for r in cut_repeat_spans_sa_tokens(
            df, "doc_id", "text", max_tokens=64, min_tokens=5
        ).collect()
    }
    assert head[1]["n_cut"] == 0 and head[2]["n_cut"] == 0
    full = {
        r["doc_id"]: r
        for r in cut_repeat_spans_sa_tokens_tiled(
            df, "doc_id", "text", tile=64, min_tokens=5
        ).collect()
    }
    assert full[1]["n_cut"] == 6 and "LEAK1" not in full[1]["clean_text"]
    assert full[2]["n_cut"] == 6 and "LEAK6" not in full[2]["clean_text"]
    assert full[3]["clean_text"] == " ".join(toks[3])

    # brute-force oracle: coverage by duplicated 5-token grams
    from collections import Counter

    grams = Counter(
        tuple(t[i : i + 5])
        for t in toks.values()
        for i in range(len(t) - 4)
    )
    expected = []
    for d, t in toks.items():
        cov = sorted(
            {
                j
                for i in range(len(t) - 4)
                if grams[tuple(t[i : i + 5])] >= 2
                for j in range(i + 1, i + 6)
            }
        )
        run_s = None
        for k2, j in enumerate(cov):
            if run_s is None:
                run_s = j
            if k2 + 1 == len(cov) or cov[k2 + 1] != j + 1:
                expected.append((d, run_s, j))
                run_s = None
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeat_spans_sa_tokens_tiled(
            df, "doc_id", "text", tile=64, min_tokens=5
        ).collect()
    )
    assert got == sorted(expected)


@pytest.mark.parametrize(
    "grain,seed,alpha",
    [
        pytest.param("char", 1, "ab", id="1-ab"),
        pytest.param("char", 2, "abc", id="2-abc"),
        pytest.param("char", 3, "ab", id="3-ab"),
        pytest.param("token", 1, "ab", id="token-1-ab"),
        pytest.param("token", 2, "abc", id="token-2-abc"),
        pytest.param("token", 3, "ab", id="token-3-ab"),
    ],
)
def test_tiled_sa_randomized_equivalence(spark, grain, seed, alpha):
    """Adversarial randomized check of the tiled device: tiny alphabets
    make repeats dense and periodic (self-overlap pressure at every
    window boundary), where a tiling bug would show first.  Tiled spans
    must equal brute-force duplicated-min_len-gram coverage runs
    exactly, with tile=32 forcing many windows per doc.  At token grain
    each letter is a whole word, one of them a control char (below
    every printable byte, not whitespace to the tokenizer)."""
    from collections import Counter

    from chewdata_spark.operators.suffix import (
        repeat_spans_sa_tiled,
        repeat_spans_sa_tokens_tiled,
    )

    rng = random.Random(seed)
    min_len, tile = 6, 32
    units = {
        d: [rng.choice(alpha) for _ in range(rng.randint(1, 220))]
        for d in range(1, 7)
    }
    if grain == "char":
        texts = {d: "".join(u) for d, u in units.items()}
        spans = repeat_spans_sa_tiled
        kw = {"min_len": min_len}
    else:
        words = {"a": "alpha", "b": "\x01", "c": "al"}
        units = {d: [words[c] for c in u] for d, u in units.items()}
        texts = {d: " ".join(u) for d, u in units.items()}
        spans = repeat_spans_sa_tokens_tiled
        kw = {"min_tokens": min_len}
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spans(df, "doc_id", "text", tile=tile, **kw).collect()
    )
    grams = Counter(
        tuple(t[i : i + min_len])
        for t in units.values()
        for i in range(len(t) - min_len + 1)
    )
    expected = []
    for d, t in units.items():
        cov = sorted(
            {
                j
                for i in range(len(t) - min_len + 1)
                if grams[tuple(t[i : i + min_len])] >= 2
                for j in range(i + 1, i + min_len + 1)
            }
        )
        run_s = None
        for k2, j in enumerate(cov):
            if run_s is None:
                run_s = j
            if k2 + 1 == len(cov) or cov[k2 + 1] != j + 1:
                expected.append((d, run_s, j))
                run_s = None
    assert got == sorted(expected)


def test_cut_contaminated_spans_sa_full_doc(spark):
    """full_doc=True cuts a leak planted deep beyond any head window
    (char ~400) that the default head-window form provably keeps, and
    a leaked run LONGER than the compare cap is still covered end to
    end by chained capped marks."""
    from chewdata_spark.operators.suffix import cut_contaminated_spans_sa

    rng = random.Random(17)

    def noise(n):
        return "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(n)
        )

    long_leak = "THE EXTREMELY LONG LEAKED BENCHMARK PASSAGE " * 3  # 132 > cap
    seen = spark.createDataFrame(
        [(0, "bench doc holds: " + long_leak + " end")],
        "doc_id long, text string",
    )
    deep = noise(400) + long_leak + noise(50)
    new = spark.createDataFrame(
        [(1, deep), (3, noise(300))], "doc_id long, text string"
    )
    head = {
        r["doc_id"]: r
        for r in cut_contaminated_spans_sa(
            new, seen, "doc_id", "text",
            max_chars=128, min_len=30, bucket_len=8,
        ).collect()
    }
    assert head[1]["n_cut"] == 0  # leak lives beyond the head window
    full = {
        r["doc_id"]: r
        for r in cut_contaminated_spans_sa(
            new, seen, "doc_id", "text",
            max_chars=64, min_len=30, bucket_len=8, full_doc=True,
        ).collect()
    }
    # the 132-char run (2x the 64-char compare cap) is cut end to end
    assert long_leak not in full[1]["clean_text"]
    assert full[1]["n_cut"] >= len(long_leak)
    assert full[1]["n_spans"] == 1  # chained capped marks merge to one
    fresh_text = {r["doc_id"]: r["text"] for r in new.collect()}[3]
    assert full[3]["clean_text"] == fresh_text
    assert full[3]["n_cut"] == 0


def test_contamination_full_doc_rejects_short_compare(spark):
    from chewdata_spark.operators.suffix import sa_incremental_contamination

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="compare length"):
        sa_incremental_contamination(
            df, df, "doc_id", "text",
            max_chars=20, min_len=30, bucket_len=8, full_doc=True,
        )


def test_token_ranks_control_char_tokens(spark):
    """Regression: tokens may contain bytes below 0x20 (whitespace
    split keeps them), where a separator-joined pair key misorders —
    the struct pair base must reproduce the brute-force token-suffix
    order exactly (reviewer repro: 'a x' vs 'a\x01')."""
    from chewdata_spark.operators.suffix import suffix_ranks_tokens

    rows = [(1, "a x"), (2, "a\x01"), (3, "a\x01b c\x00d a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["off"]): r["rank"]
        for r in suffix_ranks_tokens(
            df, "doc_id", "text", max_tokens=8
        ).collect()
    }
    sufs = []
    for d, t in rows:
        toks = t.split()
        for i in range(len(toks)):
            sufs.append(((d, i + 1), toks[i:]))
    expected = {
        k: 1 + sum(1 for _, o in sufs if o < suf) for k, suf in sufs
    }
    assert got == expected, (got, expected)


def test_bs_neighbours_equal_filter_scan(spark):
    # the streaming SA scorers bisect the sorted bucket array for
    # pred/succ (O(log cap) per arrival); this replays the original
    # O(|arr|) filter-scan definition on randomized arrays/keys and
    # asserts element-wise equality, including the edge cases (empty
    # match side, key below/above every element, exact hits, NULL key,
    # missing bucket -> NULL array).
    import random

    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import _bs_neighbours as _sa_bs_neighbours

    rng = random.Random(1207)
    alpha = "abcd"
    rows = []
    for i in range(300):
        arr = sorted(
            {"".join(rng.choices(alpha, k=rng.randint(1, 6)))
             for _ in range(rng.randint(1, 40))}
        )
        suf = "".join(rng.choices(alpha, k=rng.randint(1, 6)))
        if rng.random() < 0.2 and arr:
            suf = rng.choice(arr)  # exact hit
        rows.append((i, suf, arr))
    rows.append((1000, None, ["ab", "cd"]))   # NULL key
    rows.append((1001, "bb", None))           # missing bucket
    rows.append((1002, "", ["a"]))            # below every element
    rows.append((1003, "ddddddd", ["a", "d"]))  # above every element
    df = spark.createDataFrame(rows, "id long, suf string, arr array<string>")
    got = _sa_bs_neighbours(df, max_bucket=40).select(
        "id", "_pred", "_succ"
    )
    want = (
        df.withColumn(
            "_pred", F.expr("array_max(filter(arr, x -> x <= suf))")
        )
        .withColumn("_succ", F.expr("array_min(filter(arr, x -> x > suf))"))
        .select("id", "_pred", "_succ")
    )
    g = {r["id"]: (r["_pred"], r["_succ"]) for r in got.collect()}
    w = {r["id"]: (r["_pred"], r["_succ"]) for r in want.collect()}
    assert g == w


def test_stream_scorer_token_grain_matches_batch_gate(spark, tmp_path):
    # no registry stream runs the plain token grain: the shared stream
    # scorer (static bucket arrays + bisection) must give the batch
    # token gate's per-doc max on the same odd (arriving) / even (seen)
    # split, including arrivals with no tokens and no seen neighbour
    from pyspark.sql import functions as F

    from chewdata_spark.operators.suffix import (
        _TOKEN,
        _docs,
        _seen_bucket_arrays,
        _stream_scores,
        sa_incremental_contamination_tokens,
    )
    from chewdata_spark.queries.dedup_queries import _run_stream_static

    shared = "the quick brown fox jumps over"
    docs = spark.createDataFrame(
        [
            (0, shared + " the lazy dog"),
            (1, "a " + shared + " again"),
            (2, "alpha beta gamma delta"),
            (3, "beta gamma delta epsilon"),
            (4, "one two three"),
            (5, "two three four five"),
            (7, "nothing in common here at all"),
            (9, None),
            (11, "   "),
        ],
        "doc_id long, text string",
    )
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    cap, bucket, max_bucket = 8, 2, 10_000
    want = {
        r["doc_id"]: r["max_shared_tokens"]
        for r in sa_incremental_contamination_tokens(
            new, seen, "doc_id", "text", max_tokens=cap, min_tokens=3,
            bucket_tokens=bucket, max_bucket=max_bucket,
        ).collect()
    }
    assert want == {1: 6, 3: 3, 5: 2, 7: 0, 9: 0, 11: 0}

    path = str(tmp_path / "arrivals")
    new.write.parquet(path)
    arrivals = (
        spark.readStream.schema(new.schema)
        .parquet(path)
        .select(
            "doc_id",
            F.slice(_TOKEN.units(F.col("text")), 1, cap).alias(_TOKEN.col),
        )
    )
    seen_arr = _seen_bucket_arrays(
        _TOKEN, _docs(_TOKEN, seen, "doc_id", "text", cap),
        cap=cap, bucket=bucket, max_bucket=max_bucket, obs="sa_stream_test",
    )
    scored = _stream_scores(
        _TOKEN, arrivals, seen_arr,
        cap=cap, bucket=bucket, max_bucket=max_bucket,
    )
    per_doc = scored.groupBy("doc_id").agg(F.max("m").alias("m"))
    got = _run_stream_static(per_doc, seen_arr, "_stream_scorer_tokens")
    assert {r["doc_id"]: r["m"] for r in got.collect()} == want


def test_sa_arrival_hot_bucket_salting(spark):
    """Boilerplate-heavy ARRIVALS: every new doc opens with the same
    8-char prefix, so all their position-1..k suffixes land in one
    prefix bucket.  With max_bucket=3 the salting splits that bucket's
    window into ceil(arrivals/3) salt groups; results must be
    bit-identical to the effectively-unsalted run (huge cap), because
    every salt group replicates the full (capped) seen row set and
    pred/succ read only seen rows."""
    from chewdata_spark.operators.suffix import sa_contamination_scores

    boiler = "BOILERPLATE-HEADER "  # shared opener, hot arrival bucket
    seen_rows = [
        (100, boiler + "canonical body zero zero zero zero"),
        (102, "completely different seen text here"),
    ]
    new_rows = [
        (2 * i + 1, boiler + f"variant body number {i:03d} trailing")
        for i in range(12)
    ]
    # one exact long repeat so at least one arrival scores >= min_len
    new_rows.append((99, boiler + "canonical body zero zero zero zero"))
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    seen = spark.createDataFrame(seen_rows, "doc_id long, text string")

    def scores(cap):
        return sorted(
            (r["doc_id"], r["off"], r["m"])
            for r in sa_contamination_scores(
                new, seen, "doc_id", "text",
                max_chars=64, min_len=30, bucket_len=8, max_bucket=cap,
            ).collect()
        )

    salted = scores(3)           # arrivals per bucket >> 3 -> _ns > 1
    wide = scores(1_000_000)     # _ns == 1 everywhere
    assert salted == wide
    # the planted exact repeat is still found under salting
    by_doc = {}
    for d, _o, m in salted:
        by_doc[d] = max(by_doc.get(d, 0), m)
    assert by_doc[99] >= 30
    assert all(v < 30 for d, v in by_doc.items() if d != 99)


def test_sa_bucket_prefilter_contract(spark):
    """Arriving positions whose prefix bucket holds NO seen suffix are
    DROPPED before the neighbour window (they would score m = 0 there:
    pred/succ are per-bucket, seen-only) — the position relation must
    omit them, and the doc-grain gate must still report the untouched
    docs as kept with max_shared_len 0 (left join + coalesce, the
    contract every scored consumer relies on)."""
    from chewdata_spark.operators.suffix import (
        sa_contamination_scores,
        sa_incremental_contamination,
    )

    seen = spark.createDataFrame(
        [(100, "zzzz-anchor canonical body here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # no 8-char prefix of any suffix matches the seen doc
            (1, "ABCDEFGH IJKLMNOP QRSTUVWX 12345"),
            # tail shares the seen doc's whole anchor run (>= 30 chars)
            (3, "lead-in zzzz-anchor canonical body here"),
        ],
        "doc_id long, text string",
    )
    scored = sa_contamination_scores(
        new, seen, "doc_id", "text",
        max_chars=64, min_len=30, bucket_len=8, full_doc=True,
    )
    rows = scored.collect()
    assert {r["doc_id"] for r in rows} == {3}  # doc 1 prefiltered away
    assert max(r["m"] for r in rows) >= 30
    gate = {
        r["doc_id"]: (r["max_shared_len"], r["kept"])
        for r in sa_incremental_contamination(
            new, seen, "doc_id", "text",
            max_chars=64, min_len=30, bucket_len=8, full_doc=True,
        ).collect()
    }
    assert gate[1] == (0, True)      # absent from scored, still reported
    assert gate[3][0] >= 30 and gate[3][1] is False


def test_token_grain_contamination_survives_whitespace_noise(spark):
    """The reason the token grain exists: a leak reformatted with
    doubled spaces / tabs is INVISIBLE to the char-grain scorer (no
    >= min_len shared char run) but identical at token grain — the
    whitespace-robust match Lee et al. 2022 get from matching on
    tokens."""
    from chewdata_spark.operators.suffix import (
        sa_contamination_scores,
        sa_contamination_scores_tokens,
    )

    leak = "the quick brown fox jumps over the lazy dog tonight"
    seen = spark.createDataFrame(
        [(100, leak)], "doc_id long, text string"
    )
    # same ten tokens, every separator doubled — char runs cap at the
    # longest single token (< 30 chars)
    noisy = leak.replace(" ", "  ")
    new = spark.createDataFrame(
        [(1, noisy), (3, "totally unrelated words only here")],
        "doc_id long, text string",
    )
    char_hits = (
        sa_contamination_scores(
            new, seen, "doc_id", "text",
            max_chars=64, min_len=30, bucket_len=8, full_doc=True,
        )
        .filter("m >= 30")
        .count()
    )
    assert char_hits == 0
    tok = {
        r["doc_id"]: r["m"]
        for r in sa_contamination_scores_tokens(
            new, seen, "doc_id", "text",
            max_tokens=32, min_tokens=5, bucket_tokens=2, full_doc=True,
        )
        .groupBy("doc_id")
        .agg({"m": "max"})
        .withColumnRenamed("max(m)", "m")
        .collect()
    }
    assert tok.get(1, 0) == 10      # the whole 10-token leak matches
    assert tok.get(3, 0) < 5


def test_cut_contaminated_spans_sa_tokens_planted(spark):
    """Planted token-grain decontamination: the leaked 6-token run is
    cut from the arriving doc's token stream (whitespace-normalized
    output), the rest survives, and clean docs pass through."""
    from chewdata_spark.operators.suffix import (
        cut_contaminated_spans_sa_tokens,
    )

    run = "alpha beta gamma delta epsilon zeta"
    seen = spark.createDataFrame(
        [(100, f"prefix words {run} suffix words")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, f"my own opening {run} my own closing"),
            (3, "nothing shared with the seen corpus at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in cut_contaminated_spans_sa_tokens(
            new, seen, "doc_id", "text",
            max_tokens=32, min_tokens=5, bucket_tokens=2, full_doc=True,
        ).collect()
    }
    assert out[1]["clean_text"] == "my own opening my own closing"
    assert out[1]["n_spans"] == 1 and out[1]["n_cut"] == 6
    assert out[3]["clean_text"] == "nothing shared with the seen corpus at all"
    assert out[3]["n_spans"] == 0 and out[3]["n_cut"] == 0


def test_sa_contamination_scores_tokens_randomized_brute_force(spark):
    """Token-grain twin of the char randomized equivalence test:
    seeded-random repeat-heavy token streams (3-word vocabulary plus a
    control-char word, so list order vs any separator-string order
    diverges), operator per-doc max vs an exact Python replay of the
    bucketed-neighbour definition over token TUPLES."""
    import random

    from chewdata_spark.operators.suffix import sa_contamination_scores_tokens

    rng = random.Random(7)
    VOCAB = ["aa", "ab", "b", "a\x00c"]

    def doc(n):
        return " ".join(rng.choice(VOCAB) for _ in range(n))

    seen_rows = [(i * 2, doc(rng.randint(0, 18))) for i in range(12)]
    new_rows = [(i * 2 + 1, doc(rng.randint(0, 18))) for i in range(12)]
    B, L, MT = 2, 3, 12

    def toks(t):
        return tuple(t.split()) if t.strip() else ()

    seen_sufs = sorted(
        {toks(t)[:MT][o:][:MT] for _, t in seen_rows for o in range(len(toks(t)[:MT]))}
    )

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    def brute(t):
        best = 0
        tk = toks(t)[:MT]
        for o in range(len(tk)):
            s = tk[o:][:MT]
            bucket = [x for x in seen_sufs if x[:B] == s[:B]]
            pred = max((x for x in bucket if x <= s), default=None)
            succ = min((x for x in bucket if x > s), default=None)
            for nb in (pred, succ):
                if nb is not None:
                    best = max(best, lcp(s, nb))
        return best

    seen = spark.createDataFrame(seen_rows, "doc_id int, text string")
    new = spark.createDataFrame(new_rows, "doc_id int, text string")
    scored = sa_contamination_scores_tokens(
        new, seen, "doc_id", "text",
        max_tokens=MT, min_tokens=L, bucket_tokens=B,
    )
    got = {}
    for r in scored.collect():
        got[r["doc_id"]] = max(got.get(r["doc_id"], 0), r["m"])
    for did, t in new_rows:
        want = brute(t)
        assert got.get(did, 0) == want, (did, t, got.get(did, 0), want)


def test_int_alphabet_scorer_bit_identical_to_string_path(spark):
    """int_alphabet=True must return EXACTLY the string path's rows:
    the rank-ordered int rewrite is injective, LCP reads equality
    only, and sorted adjacency holds under any total alphabet order —
    so (doc_id, off, m) match row-for-row, including full_doc mode
    and a vocabulary whose string sort order differs from insertion
    order (control chars, prefixes)."""
    import random

    from chewdata_spark.operators.suffix import sa_contamination_scores_tokens

    rng = random.Random(21)
    VOCAB = ["aa", "ab", "b", "a\x00c", "z", "a"]

    def doc(n):
        return " ".join(rng.choice(VOCAB) for _ in range(n))

    seen = spark.createDataFrame(
        [(i * 2, doc(rng.randint(0, 20))) for i in range(15)],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(i * 2 + 1, doc(rng.randint(0, 20))) for i in range(15)],
        "doc_id int, text string",
    )
    for full_doc in (False, True):
        kw = dict(max_tokens=10, min_tokens=3, bucket_tokens=2,
                  full_doc=full_doc)
        ref = sorted(
            tuple(r) for r in sa_contamination_scores_tokens(
                new, seen, "doc_id", "text", **kw
            ).collect()
        )
        got = sorted(
            tuple(r) for r in sa_contamination_scores_tokens(
                new, seen, "doc_id", "text", int_alphabet=True, **kw
            ).collect()
        )
        assert got == ref, f"full_doc={full_doc}"


def test_int_alphabet_guard_raises_on_unbounded_vocab(spark):
    """max_alphabet is a hard contract guard: a vocabulary larger than
    the cap must raise (never silently ship a giant literal map)."""
    import pytest

    from chewdata_spark.operators.suffix import sa_contamination_scores_tokens

    new = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))], "doc_id int, text string"
    )
    seen = spark.createDataFrame(
        [(2, " ".join(f"w{i}" for i in range(20, 60)))],
        "doc_id int, text string",
    )
    with pytest.raises(ValueError, match="max_alphabet"):
        sa_contamination_scores_tokens(
            new, seen, "doc_id", "text",
            max_tokens=8, min_tokens=3, bucket_tokens=2,
            int_alphabet=True, max_alphabet=10,
        )
    # "auto" must DECLINE (silent string-path fallback) on the same
    # over-cap vocabulary, with results identical to the string path
    kw = dict(max_tokens=8, min_tokens=3, bucket_tokens=2)
    ref = sorted(tuple(r) for r in sa_contamination_scores_tokens(
        new, seen, "doc_id", "text", **kw).collect())
    got = sorted(tuple(r) for r in sa_contamination_scores_tokens(
        new, seen, "doc_id", "text",
        int_alphabet="auto", max_alphabet=10, **kw).collect())
    assert got == ref
    # and ACCEPT (still identical) when the cap accommodates the vocab
    got2 = sorted(tuple(r) for r in sa_contamination_scores_tokens(
        new, seen, "doc_id", "text",
        int_alphabet="auto", max_alphabet=4096, **kw).collect())
    assert got2 == ref
    # "bounded" (r16: "auto" minus the sample pre-screen, for callers
    # whose vocabulary is bounded by construction) must behave
    # identically on BOTH paths: decline softly past the cap ...
    got3 = sorted(tuple(r) for r in sa_contamination_scores_tokens(
        new, seen, "doc_id", "text",
        int_alphabet="bounded", max_alphabet=10, **kw).collect())
    assert got3 == ref
    # ... and accept (bit-identical rows) when the vocabulary fits
    got4 = sorted(tuple(r) for r in sa_contamination_scores_tokens(
        new, seen, "doc_id", "text",
        int_alphabet="bounded", max_alphabet=4096, **kw).collect())
    assert got4 == ref


def test_int_dictionary_unmapped_token_fails_loudly(spark):
    """A token absent from the construction-time dictionary must
    RAISE at execution, not encode to NULL: NULL equality halts the
    LCP fold and silently under-reports m.  (Only reachable when the
    upstream relation changes between the probe collect and
    execution — e.g. non-deterministic input.)"""
    import pytest

    from chewdata_spark.operators.suffix import _apply_int_dictionary

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "zz_unmapped"])],
        "doc_id int, toks array<string>",
    )
    ok = _apply_int_dictionary(
        df.filter("doc_id = 1"), {"a": 1, "b": 2}
    ).collect()
    assert sorted(ok[0]["toks"]) == [1, 2]
    with pytest.raises(Exception, match="construction-time dictionary"):
        _apply_int_dictionary(df, {"a": 1, "b": 2}).collect()


def test_grain_agreement_consistent_with_gates(spark, sf_dir):
    """contamination_grain_agreement must agree row-for-row with the
    three standalone gates it composes: a doc appears iff some grain
    flags it, flags match the thresholds, and the char flag equals the
    char gate's kept=False set on the same slice convention."""
    import pyspark.sql.functions as F

    from chewdata_spark.operators.suffix import sa_incremental_contamination
    from chewdata_spark.queries.tokenize_queries import (
        _BPE_SA_MIN_PIECES,
        contamination_grain_agreement,
    )

    rows = contamination_grain_agreement(spark, sf_dir).collect()
    assert rows, "audit must be non-vacuous at the test SF"
    for r in rows:
        assert r.n_grains >= 1
        assert r.hit_char == (r.m_char >= 30)
        assert r.hit_token == (r.m_token >= 5)
        assert r.hit_piece == (r.m_piece >= _BPE_SA_MIN_PIECES)
        assert r.n_grains == int(r.hit_char) + int(r.hit_token) + int(r.hit_piece)
        assert r.doc_id % 2 == 1
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gate = sa_incremental_contamination(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        "doc_id", "text",
        max_chars=128, min_len=30, bucket_len=8, max_bucket=10_000,
    )
    char_flagged = {r.doc_id for r in gate.filter("NOT kept").collect()}
    assert {r.doc_id for r in rows if r.hit_char} == char_flagged


def test_bpe_flagship_invariants(spark, sf_dir):
    """curate_pipeline_decontam_sa_bpe structural contract: only
    odd-id (training-slice) docs survive, the per-source quota holds,
    evidence counts are consistent with the cleaned piece stream, and
    the pipeline is non-vacuous (something was cut at the test SF)."""
    from collections import Counter

    from chewdata_spark.queries.curation_queries import (
        curate_pipeline_decontam_sa_bpe,
    )

    rows = curate_pipeline_decontam_sa_bpe(spark, sf_dir).collect()
    assert rows
    per_source = Counter(r.source for r in rows)
    assert max(per_source.values()) <= 15
    assert all(r.doc_id % 2 == 1 for r in rows)
    for r in rows:
        assert (r.n_spans == 0) == (r.n_cut == 0)
        if r.n_cut == 0:
            continue
        kept = len(r.clean_pieces.split()) if r.clean_pieces else 0
        assert r.n_cut > 0 and kept >= 0
    assert any(r.n_cut > 0 for r in rows), "decontam stage vacuous"


def test_merge_islands_single_pass_edge_cases(spark):
    """Focused pin for the r15 single-window island merge
    (operators/suffix.py::_merge_islands): touching spans merge,
    gap-separated spans stay apart, duplicate and nested marks fold
    into one island, single-mark docs pass through — and the island
    facts must be exact with NO aggregate after the window (the
    groupBy(doc_id, island) exchange was removed; a regression back to
    per-row output or off-by-one start/end breaks every span cutter)."""
    from chewdata_spark.operators.suffix import _merge_islands

    marked = spark.createDataFrame(
        [
            # doc 1: [1,5] + touching [6,9] merge; [20,25] stays apart
            (1, 1, 5), (1, 6, 9), (1, 20, 25),
            # doc 2: duplicate mark + nested mark -> ONE island [3,10]
            (2, 3, 10), (2, 3, 10), (2, 4, 6),
            # doc 3: single mark
            (3, 7, 7),
            # doc 4: overlapping chain walks forward
            (4, 1, 4), (4, 3, 8), (4, 8, 12),
        ],
        "doc_id int, s int, e int",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in _merge_islands(marked).collect()
    )
    assert got == [
        (1, 1, 9), (1, 20, 25),
        (2, 3, 10),
        (3, 7, 7),
        (4, 1, 12),
    ]
    # schema contract: int spans, nullable like the old aggregate output
    sch = {f.name: (f.dataType.simpleString(), f.nullable)
           for f in _merge_islands(marked).schema.fields}
    assert sch["span_start"] == ("int", True)
    assert sch["span_end"] == ("int", True)


def test_duplicate_spans_single_pass_schema_and_values(spark):
    """Focused pin for the r15 single-window k-gram island merge
    (operators/dedup.py::duplicate_spans): two docs sharing an 8-gram
    produce one maximal span each with exact start/end/token counts,
    and the output schema keeps every column bigint AND nullable —
    the driver compares schemas, so the when()-guarded span_end must
    not become non-nullable."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"zero {shared} nine"),
        (3, "completely different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = duplicate_spans(df, "doc_id", "text", k=8)
    got = {r.doc_id: (r.span_start, r.span_end, r.span_tokens)
           for r in spans.collect()}
    # doc 1: the shared 8-gram starts at token 0; doc 2: at token 1
    assert got[1] == (0, 7, 8)
    assert got[2] == (1, 8, 8)
    assert 3 not in got
    sch = {f.name: (f.dataType.simpleString(), f.nullable)
           for f in spans.schema.fields}
    assert sch["span_start"] == ("bigint", True)
    assert sch["span_end"] == ("bigint", True)
    assert sch["span_tokens"] == ("bigint", True)
