"""Distributed suffix-array construction (prefix doubling) and the
longest-repeated-substring report — the suffix-array half of Lee et
al. 2022, "Deduplicating Training Data Makes Language Models Better"
(public; their exact-substring dedup builds a corpus suffix array).

The repo's k-gram span path (operators/dedup.py::duplicate_spans) already
marks POSITIONS covered by a duplicated fixed-length window — for
span-cutting, length-L-gram duplication is exactly Lee et al.'s
"duplicated substring of length >= L" criterion.  What k-grams cannot
answer is the *whole-substring* question: a k-gram island can be a
chimera (every window duplicated against a different partner, the whole
span never repeated).  The suffix array answers it exactly: the longest
repeated substring is the maximum LCP of two suffixes adjacent in
suffix order.

Spark-first design (no concatenated corpus string, no driver-side sort):

1. position grain — every ``(doc_id, off)`` suffix of each doc's text
   (capped at ``max_chars``); suffixes never materialize as strings
   until the final, tiny LCP step;
2. prefix doubling with ISA-style IN-GROUP refinement — the rank is the
   NON-DENSE position rank (``1 + #positions with a strictly smaller
   prefix``; ties share).  After round k every position carries the
   rank of its first ``2^k`` chars; round k+1 splits each tie group by
   ``nxt = rank[p + 2^k]`` (0 = past-end, sorting first — the
   suffix-array convention) as ``rank += rank_within_group(nxt) - 1``.
   Crucially, ranks only ever REFINE within a group: a position whose
   group is a singleton is FINAL and leaves the working set, so the
   active rows shrink to the near-duplicate tail after a few rounds,
   and no global re-ranking (sort, range partitioner, or unpartitioned
   window) exists anywhere — every window partitions by the previous
   rank;
3. round-0 ranks cover the first EIGHT chars (three-level
   order-preserving prefix sum over the 8-gram alphabet — the loop
   starts at h=8, skipping its three most expensive rounds, and
   corpus-unique 8-char contexts freeze before entering the loop), and
   the splitting window partitions by the tie group — group width is
   the group's own multiplicity, never the corpus;
4. eager localCheckpoint per round exactly like
   graph.connected_components — bench.py's LogicalRDD detection rebuilds
   the loop inside the timed window; early exit when every group is a
   singleton;
5. adjacent-suffix LCP — with non-dense ranks the successor group of
   (rank, multiplicity m) sits at exactly ``rank + m``, so "adjacent in
   suffix order" is an equi-join on that key (never a global LAG
   window); the LCP itself is one ``aggregate()`` cursor over at most
   ``max_chars`` characters of the two (re-fetched) texts.

Scale: position count = ``max_chars``-capped chars per doc × docs; every
stage is a keyed shuffle or a bounded window; the driver sees only the
per-round uniqueness flag and the final top-N.

Grains.  Every stage above is written once, over a private ``_Grain``
adapter that hides the unit format; the stages never ask which grain
they run at.  ``_CHAR`` ranks characters of a string column ``t``;
``_TOKEN`` ranks whitespace tokens of an array column ``toks`` (and
``_BPE`` is ``_TOKEN`` over a trained piece stream, used only by
``operators/curation.py::sa_curate_corpus``).  An adapter holds:
``col`` (the unit column of a docs relation), ``units`` / ``keep`` /
``size`` / ``slice`` (whole unit sequence of a text column, its
non-empty test, its length and a 1-based sub-sequence), ``base`` and
``h0`` (the round-0 rank builder and how many units it covers),
``lcp`` and ``splice`` (the bounded LCP cursor SQL and the span-cut
reassembly SQL), ``kw`` (the public kwarg names of the window,
threshold and bucket, for error messages), and the ``sa_pipeline``
settings ``defaults``, ``alphabet``, ``pieces``, ``evidence``,
``tiled`` and ``scores``.  Each public char/token function is a thin
binding of one grain-generic stage function.  The streaming
contamination scorer (``_seen_bucket_arrays`` + ``_stream_scores``,
which the streaming queries call) runs over the same adapters and
shares the batch scorer's seen suffixes, hot-bucket cap and LCP score.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Max rank lookups per refinement round (coverage multiplies by
#: ``_KARY_MAX + 1`` per round).  Each extra lookup adds one seeker
#: copy of the ACTIVE tail (small after the wide base) to the one
#: corpus-sized lookup join; 7 collapses every declared window
#: (char 64/128/256 from h0=32, tokens 64 from h0=4) to 1-2 rounds.
_KARY_MAX = 7


def _sum_before(n: str, order: str, *part: str) -> Column:
    """Running sum of ``n`` over the rows strictly before this one in
    ``order`` (0 for the first), per ``part`` partition — unpartitioned
    when ``part`` is empty."""
    w = (
        Window.partitionBy(*part)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.coalesce(F.sum(n).over(w), F.lit(0))


def _two_level_base_ranks(
    pos: DataFrame, unit_col: str, bucket: Column, bucket2: Column | None = None
) -> DataFrame:
    """(doc_id, off, rank): round-0 non-dense ranks of a
    vocabulary-sized unit column (char gram or a token struct) via the
    two-level ORDER-PRESERVING prefix sum — the corpus-sized window
    partitions by a prefix bucket (``bucket`` must be an expression
    whose order agrees with the unit order on bucket boundaries), and
    only the bucket-count offsets see an unpartitioned window.  When
    ``bucket`` is wider than 2 chars the bucket-count relation itself
    outgrows one partition; ``bucket2`` (an expression over the
    ``_bk`` column — e.g. its 2-char prefix) then adds a THIRD level:
    bucket offsets partition by ``bucket2`` and only the bucket2-count
    offsets (<= charset² rows) run unpartitioned — bounded width at
    every level.  ``rank = 1 + #positions with a strictly smaller
    unit``; ties share."""
    counts = pos.groupBy(unit_col).agg(F.count(F.lit(1)).alias("_n"))
    bucketed = counts.withColumn("_bk", bucket)
    local = bucketed.withColumn("_loc", _sum_before("_n", unit_col, "_bk"))
    bcounts = bucketed.groupBy("_bk").agg(F.sum("_n").alias("_bn"))
    if bucket2 is None:
        boffsets = bcounts.select("_bk", _sum_before("_bn", "_bk").alias("_boff"))
    else:
        b2 = bcounts.withColumn("_bk2", bucket2)
        b2local = b2.withColumn("_loc2", _sum_before("_bn", "_bk", "_bk2"))
        b2offsets = (
            b2.groupBy("_bk2")
            .agg(F.sum("_bn").alias("_b2n"))
            .select("_bk2", _sum_before("_b2n", "_bk2").alias("_b2off"))
        )
        boffsets = b2local.join(b2offsets, "_bk2").select(
            "_bk", (F.col("_b2off") + F.col("_loc2")).alias("_boff")
        )
    base = local.join(boffsets, "_bk").select(
        unit_col,
        (F.col("_boff") + F.col("_loc") + 1).cast("bigint").alias("_base"),
    )
    return pos.join(base, unit_col).select(
        "doc_id", "off", F.col("_base").alias("rank")
    )


def _prefix_double(
    work: DataFrame, max_units: int, *, h0: int = 1
) -> DataFrame:
    """The grain-agnostic prefix-refinement loop: ``work`` is
    ``(doc_id, off, rank)`` with round-0 non-dense ranks covering the
    first ``h0`` units; ``off`` counts UNITS (chars or tokens — the
    loop only ever shifts it).

    r15: each round is K-ARY (Karp-Miller-Rosenberg generalized): a
    round at coverage ``h`` fetches the ranks at ``off + h, off + 2h,
    ..., off + K*h`` and refines each tie group by the K-tuple, so one
    round multiplies coverage by ``K + 1`` instead of 2 — the loop
    runs ``ceil(log_{K+1}(max_units / h0))`` rounds instead of
    ``log2``.  Exactness is the same block-composition argument as
    binary doubling, applied K times: within a tie group (first ``h``
    units equal — and any member shorter than ``h`` units only ties
    with identical whole suffixes), ranks at coverage ``h`` order the
    unit blocks ``[off+kh, off+(k+1)h)`` exactly, fixed-width blocks
    compose lexicographically, and a past-end lookup maps to rank 0 <
    every real rank = shorter-suffix-sorts-first.  Each round pays ONE
    corpus-sized lookup pass (the K probe offsets ride an exploded
    seeker copy of the ACTIVE tail, which is small after the 32-unit
    base), one window pass and one localCheckpoint — so collapsing
    rounds removes whole corpus-sized passes, not just constants
    (guide §1.2 step 1 / §2.4).

    Output is ``(doc_id, off, rank, m)`` — ``m`` is the FINAL
    multiplicity of the position's rank group.  The loop already
    computes it every round to find singletons (the ``_m`` peer
    count), so emitting it is free here and saves the downstream
    representative-suffix step a corpus-sized groupBy: a singleton
    group's only member IS its representative (see
    :func:`_rep_suffixes`)."""
    # a frozen (singleton-group) position never re-activates, so only
    # the last round's refined rows can still split: per-round work is
    # bounded by the surviving tie mass, which collapses to the
    # near-duplicate tail after a few rounds.  Frozen pieces accumulate
    # as checkpointed RDDs and serve rank lookups without recompute.
    frozen: list[DataFrame] = []
    h = h0
    # round-0 group sizes: one window over the base ranks (the loop
    # folds this into the refinement window for every later round);
    # when the base ranks already cover the whole window (h0 >=
    # max_units) these are the final groups and the loop never runs
    work = work.withColumn(
        "_m", F.count(F.lit(1)).over(Window.partitionBy("rank"))
    ).localCheckpoint()

    while h < max_units:
        still = work.filter(F.col("_m") >= 2).drop("_m")
        done = work.filter(F.col("_m") == 1)  # _m rides along (all 1)
        frozen.append(done)
        if still.isEmpty():
            work = None
            break  # every group a singleton: ranks are final
        # K probes this round: enough to finish in one round when the
        # remaining factor fits, else the cap
        k = min(_KARY_MAX, -(-max_units // h) - 1)
        lookup = _union([
            piece.select(
                "doc_id", F.col("off").alias("_loff"), F.col("rank").alias("nxt")
            )
            for piece in [still, *frozen]
        ])
        nxt_cols = [f"_n{i}" for i in range(1, k + 1)]
        # the new rank is the old rank plus the number of strictly
        # smaller in-group tuples (rank() - 1): 1 + #smaller is
        # invariant under refinement because a member with j smaller
        # in-group peers gains exactly j newly-smaller positions
        grp_w = Window.partitionBy("rank").orderBy(*nxt_cols)
        # the peer count partitions by (rank, tuple): hash(rank) alone
        # already clusters it and grp_w's sort already orders it, so
        # both windows share ONE exchange and ONE sort (asserted by
        # the plan-quality suite)
        peer_w = Window.partitionBy("rank", *nxt_cols)
        if k == 1:
            # single probe: plain equi-join, no seeker explode needed
            refined = (
                still.withColumn("_loff", F.col("off") + h)
                .join(lookup, ["doc_id", "_loff"], "left")
                .select(
                    "doc_id",
                    "off",
                    "rank",
                    F.coalesce("nxt", F.lit(0)).alias("_n1"),
                )
            )
        else:
            # exploded seekers: K probe rows per active position, ONE
            # join against the corpus-sized lookup, then fold the K
            # probe results back to a tuple per position.  The fold's
            # groupBy re-exchanges only K x |active tail| rows — the
            # corpus-sized side ships once per ROUND, not per probe.
            seekers = still.select(
                "doc_id",
                "off",
                "rank",
                F.explode(F.expr(f"sequence(1, {k})")).alias("_k"),
            ).withColumn("_loff", F.col("off") + F.col("_k") * F.lit(h))
            refined = (
                seekers.join(lookup, ["doc_id", "_loff"], "left")
                .groupBy("doc_id", "off", "rank")
                .agg(
                    *[
                        F.max(
                            F.when(
                                F.col("_k") == i,
                                F.coalesce("nxt", F.lit(0)),
                            )
                        ).alias(f"_n{i}")
                        for i in range(1, k + 1)
                    ]
                )
            )
        work = refined.select(
            "doc_id",
            "off",
            (F.col("rank") + F.rank().over(grp_w) - 1).alias("rank"),
            F.count(F.lit(1)).over(peer_w).alias("_m"),
        ).localCheckpoint()
        h *= k + 1
    if work is not None:  # max_units reached with ties left (true dups)
        frozen.append(work)
    return _union(frozen).withColumnRenamed("_m", "m")


def _union(parts: list[DataFrame]) -> DataFrame:
    """``parts`` unioned by column name, in order."""
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def _char_base(docs: DataFrame, h0: int) -> DataFrame:
    """Round-0 CHAR ranks over an already-windowed ``(doc_id, t)``
    relation — ``doc_id`` may be any joinable type (the tiled variant
    passes a (doc, window) struct).

    Round 0 ranks by the first ``h0`` = THIRTY-TWO chars, not one: the
    doubling loop then starts at ``h = 32``, skipping its most
    expensive rounds (the early rounds touch every position — nothing
    has frozen yet), and positions whose 32-char context is
    corpus-unique freeze at round 0 without entering the loop at all.
    Long-gram ranks keep the suffix-order convention for free, because
    a shorter suffix that is a prefix of a longer one compares smaller
    as a plain string (``"ab" < "abX"``).  The gram alphabet is too
    wide for a single 2-char-bucketed pass, so the base prefix sum runs
    the THREE-level ORDER-PRESERVING device: the distinct-gram window
    partitions by the gram's 4-char prefix (prefix order agrees with
    gram order), the 4-char bucket offsets partition by THEIR 2-char
    prefix, and only the 2-char bucket-of-bucket offsets (<= charset²
    rows) see an unpartitioned window — bounded width at every
    level."""
    # r15: the base gram is 32 chars (was 8).  Measured at sf0.1, the
    # 8-char base froze almost nothing (1.80M of 1.80M positions still
    # active after round 0 — natural text repeats its 8-grams heavily)
    # so the loop ran its two widest rounds (h=8: 1.80M active, h=16:
    # 1.39M active) over nearly the whole corpus.  Ranking the base by
    # the first 32 chars freezes every position whose 32-char context
    # is corpus-unique (~83% at sf0.1) before the loop, which then
    # starts at h=32 with only the true near-duplicate tail (~317k).
    # Exact for any h0: the non-dense rank by the first h0 units is
    # the same fixpoint the doubling reaches at h0, so the final ranks
    # are bit-identical.  Shorter windows (max_chars < 32) just rank
    # whole suffixes at round 0 and skip the loop.
    return _two_level_base_ranks(
        _suffixes(_CHAR, docs, h0),
        "suf",
        bucket=F.substring("suf", 1, 4),
        bucket2=F.substring(F.col("_bk"), 1, 2),
    )


def _token_base(docs: DataFrame, h0: int) -> DataFrame:
    """Round-0 TOKEN ranks over an already-windowed ``(doc_id, toks)``
    relation: the first ``h0`` = FOUR tokens, the token-grain
    counterpart of the char path's gram base.  The base key is a
    STRUCT ``(w1..w4)`` with trailing fields null where the suffix
    runs out — Spark struct ordering compares field-wise with
    null-sorts-first, which IS tuple lexicographic order with
    shorter-suffix-sorts-first (nulls fill monotonically from the end,
    so a null field always means "suffix ended here"), the exact
    suffix convention the doubling loop refines.  (A separator-joined
    string key is NOT sound here: no separator sorts below every
    possible token byte — whitespace-split tokens can contain control
    chars below 0x20, even \\x00 — so ``w1 || ' ' || w2`` misorders
    such corpora; the struct comparison has no separator to collide.)
    The two-level bucket stays ``substring(w1, 1, 2)`` — prefix order
    of the FIRST field agrees with tuple order.  (Formerly
    ``_token_ranks``, the name some public docstrings still cite.)"""
    pos = docs.select(
        "doc_id",
        F.posexplode("toks").alias("off0", "w"),
        F.col("toks").alias("_tk"),
    ).select(
        "doc_id",
        (F.col("off0") + 1).alias("off"),
        F.struct(
            F.col("w").alias("w1"),
            *[
                F.expr(f"try_element_at(_tk, CAST(off0 + {i} AS INT))").alias(
                    f"w{i}"
                )
                for i in range(2, h0 + 1)
            ],
        ).alias("u"),
    )
    return _two_level_base_ranks(
        pos, "u", bucket=F.substring(F.col("u.w1"), 1, 2)
    )


def _char_lcp(a: str = "suf", b: str = "suf2", cap: int = 256) -> str:
    """SQL for the bounded LCP cursor between two STRING suffix
    columns: greedy binary refinement over descending power-of-two
    window widths — ``n`` advances past each window whose chars match
    both sides.  Exact for any LCP <= ``cap``: ``n`` can never advance
    past a true mismatch (every window containing the mismatch char
    compares unequal on both sides, truncated or not), and when the
    shared prefix exhausts one side the final ``least(length, length)``
    cap lands exactly on the min length (r15 microbench + planted
    mismatch sweep, 0 mismatches over 1M adversarial pairs:
    OPTIMIZATION_r15.md, change 1).  Why: Catalyst higher-order
    functions are CodegenFallback — interpreted, one closure call per
    element — so the old per-char fold paid up to ``cap`` interpreted
    steps (and an O(i) UTF8 offset scan per ``substring(col, i, 1)``,
    quadratic in the match length); this pays ``log2(cap)+1`` steps of
    one memcmp each.  Measured 3.6x faster on the flagship pair shape
    (guide §1/§4: per-task work, replace interpreted row loops)."""
    widths = ",".join(
        str(2**i) for i in range((cap - 1).bit_length(), -1, -1)
    )
    return f"""
        CASE WHEN {a} IS NULL OR {b} IS NULL THEN NULL ELSE
          least(
            least(length({a}), length({b})),
            aggregate(
              array({widths}),
              0,
              (n, w) -> if(substring({a}, n + 1, w) = substring({b}, n + 1, w),
                           n + w, n)
            )
          )
        END
    """


def _token_lcp(a: str = "suf", b: str = "suf2", cap: int = 256) -> str:
    """SQL for the LCP cursor between two ARRAY suffix columns (``cap``
    is implied by the slices).  It keeps the per-element fold:
    ``element_at`` is O(1) on arrays and the binary variant's
    ``slice()`` allocates a copy per step — measured SLOWER (0.27 s
    fold vs 1.75 s binary on 300k array pairs)."""
    return f"""
        aggregate(
          sequence(1, least(size({a}), size({b}))),
          named_struct('n', 0, 'go', true),
          (acc, i) -> if(acc.go and element_at({a}, i) = element_at({b}, i),
                         named_struct('n', acc.n + 1, 'go', true),
                         named_struct('n', acc.n, 'go', false))
        ).n
    """


@dataclass(frozen=True)
class _Grain:
    """One suffix-array unit format (see "Grains" in the module
    docstring).  Functions over columns take and return ``Column``s;
    ``slice`` takes a 1-based start and a length, ints or columns."""

    col: str
    units: Callable[[Column], Column]
    keep: Callable[[Column], Column]
    size: Callable[[Column], Column]
    slice: Callable[..., Column]
    base: Callable[[DataFrame, int], DataFrame]
    h0: int
    lcp: Callable[..., str]
    splice: str
    kw: tuple[str, str, str]
    # sa_pipeline (operators/curation.py::sa_curate_corpus): its
    # (min_len, tile, bucket_len, compare_cap) defaults; the scorer's
    # int_alphabet policy; whether it trains BPE and runs on the piece
    # stream; whether it reports n_spans/n_cut without a benchmark; and
    # its two suffix stages, which call the PUBLIC bindings through the
    # module at call time, so a wrapper installed on a public name (a
    # tracer, a profiler) sees the pipeline's call too
    defaults: tuple[int, int, int, int]
    tiled: Callable[..., DataFrame]
    scores: Callable[..., DataFrame]
    alphabet: bool | str = False
    pieces: bool = False
    evidence: bool = True


_CHAR = _Grain(
    col="t",
    units=lambda c: c,
    keep=lambda c: F.length(c) > 0,
    size=F.length,
    slice=F.substring,
    base=_char_base,
    # 32 wins the r16 h0 x K sweep (OPTIMIZATION_r16.md, change 4): 16
    # halves the base-exchange key bytes but leaves a ~4x larger active
    # tail for the loop, which costs more than the narrower keys save
    h0=32,
    lcp=_char_lcp,
    splice="""
        aggregate(
          spans,
          named_struct('p', 1, 'acc', ''),
          (a, sp) -> named_struct(
              'p', CAST(sp.span_end + 1 AS INT),
              'acc', concat(a.acc, substring(t, a.p, sp.span_start - a.p))),
          a -> concat(a.acc, substring(t, a.p))
        )
        """,
    kw=("max_chars", "min_len", "bucket_len"),
    defaults=(30, 128, 8, 64),
    tiled=lambda df, col, tile, n: repeat_spans_sa_tiled(
        df, "doc_id", col, tile=tile, min_len=n
    ),
    scores=lambda new, seen, col, cap, n, bk, mb, _ia: sa_contamination_scores(
        new, seen, "doc_id", col, max_chars=cap, min_len=n,
        bucket_len=bk, max_bucket=mb, full_doc=True,
    ),
    # the repeat-only char pipeline keeps curate_pipeline_full_sa's
    # (doc_id, clean_text) contract
    evidence=False,
)

_TOKEN = _Grain(
    col="toks",
    units=lambda c: F.split(F.trim(c), r"\s+"),
    keep=lambda c: (F.size(c) > 1) | (F.element_at(c, 1) != ""),
    size=F.size,
    slice=F.slice,
    base=_token_base,
    h0=4,
    lcp=_token_lcp,
    # kept token slices joined with single spaces: token-grain output
    # is whitespace-normalized by declaration
    splice="""
        array_join(
          aggregate(
            spans,
            named_struct('p', 1, 'acc', CAST(array() AS array<string>)),
            (a, sp) -> named_struct(
                'p', CAST(sp.span_end + 1 AS INT),
                'acc', concat(a.acc, slice(toks, a.p, sp.span_start - a.p))),
            a -> concat(a.acc, slice(toks, a.p, size(toks) - a.p + 1))
          ),
          ' ')
        """,
    kw=("max_tokens", "min_tokens", "bucket_tokens"),
    defaults=(5, 64, 2, 32),
    tiled=lambda df, col, tile, n: repeat_spans_sa_tokens_tiled(
        df, "doc_id", col, tile=tile, min_tokens=n
    ),
    scores=lambda new, seen, col, cap, n, bk, mb, ia: sa_contamination_scores_tokens(
        new, seen, "doc_id", col, max_tokens=cap, min_tokens=n,
        bucket_tokens=bk, max_bucket=mb, full_doc=True, int_alphabet=ia,
    ),
    # word-token vocabulary is UNBOUNDED by contract -> "auto" probes
    # it and int-encodes only when bounded in practice, falling back to
    # the string-array path otherwise (bit-identical either way)
    alphabet="auto",
)

#: BPE pieces: the token grain over the trained piece stream.  The
#: piece vocabulary is base chars + trained merges by construction, so
#: "bounded" skips the "auto" sample pre-screen (an extra corpus-scale
#: probe job that can never fire here; r16 interleaved A/B on the BPE
#: flagship: 29.09 -> 27.54 s) and keeps the bit-identical fallback.
_BPE = replace(_TOKEN, defaults=(9, 64, 4, 64), alphabet="bounded", pieces=True)

#: sa_pipeline's ``grain`` option -> adapter
_GRAINS = {"char": _CHAR, "token": _TOKEN, "bpe": _BPE}


def _docs(
    g: _Grain,
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_units: int | None = None,
) -> DataFrame:
    """(doc_id, <g.col>): each non-empty doc's units, the first
    ``max_units`` of them (``None``: the whole doc) — the corpus
    relation both the rank builder and every LCP re-fetch read, so the
    two sides always window identically."""
    t = F.col(text_col)
    if max_units is None:  # the whole doc; a NULL text is an empty one
        u = g.units(F.coalesce(t, F.lit("")))
    else:
        u = g.slice(g.units(t), 1, max_units)
    return df.select(F.col(id_col).alias("doc_id"), u.alias(g.col)).filter(
        g.keep(F.col(g.col))
    )


def _tiled_docs(
    g: _Grain, df: DataFrame, id_col: str, text_col: str, tile: int, stride: int
) -> DataFrame:
    """(doc_id=struct(d, w), <g.col>): each doc split into consecutive
    ``tile``-unit windows starting every ``stride`` units — the
    pseudo-doc relation the tiled SA ranks over.  Window count per doc
    is the smallest W with ``(W-1)*stride + tile >= len``, so windows
    jointly cover every unit and consecutive windows overlap by
    ``tile - stride`` units."""
    units = F.col(g.col)
    nwin = F.greatest(
        F.lit(1),
        (F.ceil((g.size(units) - F.lit(tile)) / F.lit(stride)) + 1).cast("int"),
    )
    return _docs(g, df, id_col, text_col).select(
        "doc_id", F.explode(F.sequence(F.lit(1), nwin)).alias("_w"), g.col
    ).select(
        F.struct(F.col("doc_id").alias("d"), F.col("_w").alias("w")).alias(
            "doc_id"
        ),
        g.slice(units, (F.col("_w") - 1) * stride + 1, tile).alias(g.col),
    )


def _suffixes(g: _Grain, docs: DataFrame, width: int) -> DataFrame:
    """(doc_id, off, suf): every position of ``docs`` with its suffix
    truncated to ``width`` units."""
    return docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), g.size(F.col(g.col)))).alias("off"),
        g.col,
    ).select(
        "doc_id", "off", g.slice(F.col(g.col), F.col("off"), width).alias("suf")
    )


def _suffix_ranks(g: _Grain, docs: DataFrame, max_units: int) -> DataFrame:
    """(doc_id, off, rank, m): the grain's round-0 base ranks refined
    by the shared loop (:func:`_prefix_double`)."""
    return _prefix_double(g.base(docs, g.h0), max_units, h0=g.h0)


def _rep_suffixes(
    g: _Grain, ranks: DataFrame, docs: DataFrame, max_units: int
) -> DataFrame:
    """(rank, m, suf): ONE representative suffix per rank group plus
    the group's multiplicity — group members are identical suffixes,
    so any member represents.  The suffix re-fetches from the corpus
    relation as a bounded slice; it is never carried through the
    doubling loop.

    ``ranks`` must carry the loop's ``m`` column (guide §2.4, r15):
    the overwhelming majority of rank groups are singletons whose only
    member IS the representative, so they bypass the representative
    pick entirely — the groupBy (formerly a corpus-sized exchange +
    aggregate over every position) now runs only over the
    near-duplicate tail (``m >= 2``)."""
    singles = ranks.filter(F.col("m") == 1).select(
        "rank", "m", "doc_id", "off"
    )
    ties = (
        ranks.filter(F.col("m") >= 2)
        .groupBy("rank")
        .agg(
            F.min(F.struct("doc_id", "off")).alias("p"),
            F.count(F.lit(1)).alias("m"),
        )
        .select("rank", "m", F.col("p.doc_id").alias("doc_id"),
                F.col("p.off").alias("off"))
    )
    return (
        singles.unionByName(ties)
        .join(docs, "doc_id")
        .select(
            "rank", "m", g.slice(F.col(g.col), F.col("off"), max_units).alias("suf")
        )
    )


def _adjacent_pairs(g: _Grain, suf: DataFrame, cap: int) -> DataFrame:
    """One row per rank group, paired with its suffix-order SUCCESSOR
    group and their LCP, built WITHOUT a self-join: with non-dense
    ranks the successor of ``(rank, m)`` sits at exactly ``rank + m``,
    so each group emits a PROVIDER row keyed by its own rank and a
    SEEKER row keyed by its successor's rank, and ONE groupBy(key)
    reunites each pair (<= 2 rows per key by construction — the
    aggregation is skew-proof and map-side combinable).

    Output columns: ``rank`` (the provider group; NULL only for the
    corpus's last group's seeker key, which has no provider), ``m``
    and ``suf`` (the provider's multiplicity and representative
    suffix), ``pred_rank`` / ``suf2`` (the predecessor group whose
    successor this key names and ITS representative suffix; NULL for
    the first group), and ``l`` — the predecessor/provider LCP, 0 when
    either side is missing.

    r15 shape (guide §1.2 step 1 / §2.4): the former equi-join
    ``suf × suf`` on ``rank + m = _rk2`` evaluated the rep-suffix
    relation — a union + corpus join + slice — once per join side
    (deduplicated only when ReuseExchange happens to fire).  The
    explode ships the same total bytes through ONE exchange that the
    join shipped through two, ``suf`` is structurally evaluated ONCE,
    and both LCP inputs land in the same aggregate row."""

    def side(key: Column, provider: int) -> Column:
        return F.struct(
            key.alias("key"), F.lit(provider).alias("side"), "rank", "m", "suf"
        )

    emit = suf.select(
        F.explode(
            F.array(side(F.col("rank"), 1), side(F.col("rank") + F.col("m"), 0))
        ).alias("x")
    ).select("x.*")
    lcp = F.expr(g.lcp("suf2", "suf", cap))
    picks = [(1, "rank", "rank"), (1, "m", "m"), (1, "suf", "suf"),
             (0, "rank", "pred_rank"), (0, "suf", "suf2")]
    return (
        emit.groupBy("key")
        .agg(*[
            F.max(F.when(F.col("side") == sd, F.col(c))).alias(name)
            for sd, c, name in picks
        ])
        .select(
            "rank", "m", "suf", "pred_rank", "suf2",
            F.coalesce(lcp, F.lit(0)).alias("l"),
        )
    )


def _group_dup_lengths(g: _Grain, suf: DataFrame, cap: int) -> DataFrame:
    """(rank, dup_len): per rank group, the length of the longest WHOLE
    repeated prefix of the group's suffix — the max of the LCPs with
    its two NEIGHBOUR groups in suffix order (non-dense ranks: the
    successor of ``(rank, m)`` sits at exactly ``rank + m``) and the
    whole suffix when the group itself is duplicated (``m >= 2``).
    Unfiltered — callers threshold.

    r15 shape: pairing via :func:`_adjacent_pairs` (one evaluation of
    the rep-suffix relation, one exchange); each pair's LCP is computed
    ONCE and credited to BOTH endpoint groups, the group's own whole-
    suffix length (``m >= 2``) rides the provider row, and a
    groupBy-max folds the two emissions per group."""
    pairs = _adjacent_pairs(g, suf, cap)
    per_rank = pairs.select(
        F.explode(
            F.array(
                # the predecessor group is credited the pair LCP
                F.struct(F.col("pred_rank").alias("rank"), F.col("l").alias("l")),
                # the provider group: pair LCP vs its own duplicated length
                F.struct(
                    F.col("rank").alias("rank"),
                    F.greatest(
                        F.col("l"),
                        F.when(F.col("m") >= 2, g.size(F.col("suf"))).otherwise(
                            F.lit(0)
                        ),
                    ).alias("l"),
                ),
            )
        ).alias("x")
    ).select("x.rank", "x.l").filter(F.col("rank").isNotNull())
    return per_rank.groupBy("rank").agg(F.max("l").alias("dup_len"))


def _position_dup_lengths(g: _Grain, docs: DataFrame, max_units: int) -> DataFrame:
    """(doc_id, off, dup_len): per position of ``docs``, the length of
    the longest whole repeated substring STARTING there — the
    rank-group dup length (:func:`_group_dup_lengths`) joined back to
    every member position of the group."""
    ranks = _suffix_ranks(g, docs, max_units)
    suf = _rep_suffixes(g, ranks, docs, max_units)
    return ranks.join(_group_dup_lengths(g, suf, max_units), "rank").select(
        "doc_id", "off", "dup_len"
    )


def _merge_islands(marked: DataFrame) -> DataFrame:
    """Merged (doc_id, span_start, span_end) islands of marked
    ``(doc_id, s, e)`` intervals — standard gaps-and-islands (a new
    island starts where ``s`` exceeds the running max end + 1, so
    touching spans merge), every window bounded by the doc's own
    positions.

    r15 shape (guide §2.4): ONE window pass — the former
    ``groupBy(doc_id, island)`` re-exchanged every mark by a DIFFERENT
    key right after the window's own (doc_id) exchange.  All four
    window expressions share one partition + order spec (one exchange,
    one sort); the island-END row then carries the whole merged span:

    * ``span_start`` = running max of island-START ``s`` values — marks
      sort by ``s``, so the most recent island-start ``s`` IS the
      current island's minimum;
    * ``span_end`` = running max ``e`` — a new island's first row has
      ``s > prev_max_e + 1``, and its own ``e >= s > prev_max_e``, so
      the running max at an island's last row never leaks from an
      earlier island;
    * a row is its island's LAST when the next row starts a new island
      (``lead(new_island) = 1``) or it is the partition's last row
      (lead NULL)."""
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    upto = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = marked.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max + 1), 1).otherwise(0),
    )
    spans = flagged.select(
        "doc_id",
        F.max(F.when(F.col("new_island") == 1, F.col("s")))
        .over(upto)
        .cast("int")
        .alias("span_start"),
        F.max("e").over(upto).cast("int").alias("span_end"),
        F.lead("new_island").over(w).alias("_nxt_ni"),
    )
    return spans.filter(
        F.col("_nxt_ni").isNull() | (F.col("_nxt_ni") == 1)
    ).drop("_nxt_ni")



def _marks(
    scored: DataFrame,
    length: str,
    min_len: int,
    start: Column | None = None,
    doc: str = "doc_id",
) -> DataFrame:
    """(doc_id, s, e): the inclusive unit interval ``[start, start +
    length - 1]`` of every row whose ``length`` reaches ``min_len`` —
    the marks :func:`_merge_islands` merges.  ``start`` defaults to
    the row's ``off``."""
    s = F.col("off") if start is None else start
    return scored.filter(F.col(length) >= min_len).select(
        F.col(doc).alias("doc_id"),
        s.alias("s"),
        (s + F.col(length) - 1).alias("e"),
    )


def _cut_spans(
    g: _Grain, df: DataFrame, id_col: str, text_col: str, spans: DataFrame
) -> DataFrame:
    """The removal half shared by every span cutter: merged,
    non-overlapping ``(doc_id, span_start, span_end)`` marks collect
    per doc and ONE ``aggregate()`` cursor (the grain's ``splice``)
    reassembles the kept pieces — no per-unit explode, no window;
    unmarked docs pass through via the left join.  Returns ``(doc_id,
    clean_text, n_spans, n_cut)`` with ``n_cut`` in units."""
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias(
            "spans"
        ),
        F.count(F.lit(1)).cast("int").alias("n_spans"),
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        g.units(F.coalesce(F.col(text_col), F.lit(""))).alias(g.col),
    )
    n_cut = F.expr(
        "aggregate(spans, 0, (a, sp) -> a + sp.span_end - sp.span_start + 1)"
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .withColumn(
            "spans",
            F.coalesce(
                "spans",
                F.expr(
                    "CAST(array() AS array<struct<span_start:int,span_end:int>>)"
                ),
            ),
        )
        .select(
            "doc_id",
            F.expr(g.splice).alias("clean_text"),
            F.coalesce("n_spans", F.lit(0)).cast("int").alias("n_spans"),
            n_cut.cast("int").alias("n_cut"),
        )
    )


def _longest_repeats(
    g: _Grain,
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_units: int,
    min_len: int,
    top_n: int,
    name: str,
    show: Callable[[Column], Column],
) -> DataFrame:
    """Top-``top_n`` longest unit sequences occurring at least twice,
    ``(name, length)`` with ``show`` rendering a unit sequence: every
    repeat is a prefix of two suffixes adjacent in suffix order, so the
    candidates are the adjacent-pair LCP prefixes plus the duplicated
    suffix groups (rank multiplicity >= 2, LCP = whole suffix)."""
    docs = _docs(g, df, id_col, text_col, max_units)
    suf = _rep_suffixes(g, _suffix_ranks(g, docs, max_units), docs, max_units)
    # r15: both candidate families read off ONE _adjacent_pairs relation
    # (one rep-suffix evaluation instead of three; see _adjacent_pairs).
    # The pair's LCP prefix is read from the PREDECESSOR side (suf2).
    pairs = _adjacent_pairs(g, suf, max_units)
    adjacent = pairs.filter(
        F.col("pred_rank").isNotNull() & F.col("rank").isNotNull()
    ).select(
        show(g.slice(F.col("suf2"), 1, F.col("l"))).alias(name),
        F.col("l").alias("length"),
    )
    dup_groups = pairs.filter(F.col("m") >= 2).select(
        show(F.col("suf")).alias(name), g.size(F.col("suf")).alias("length")
    )
    return (
        adjacent.unionByName(dup_groups)
        .filter(F.col("length") >= min_len)
        .dropDuplicates([name])
        .orderBy(F.col("length").desc(), F.col(name).asc())
        .limit(top_n)
    )


def _repeat_spans(
    g: _Grain,
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_units: int,
    min_len: int,
) -> DataFrame:
    """Merged (doc_id, span_start, span_end) unit spans, within the
    first ``max_units`` units of each doc, covered by a whole repeat of
    >= ``min_len`` units."""
    docs = _docs(g, df, id_col, text_col, max_units)
    return _merge_islands(
        _marks(_position_dup_lengths(g, docs, max_units), "dup_len", min_len)
    )


def _tiled_repeat_spans(
    g: _Grain, df: DataFrame, id_col: str, text_col: str, tile: int, min_len: int
) -> DataFrame:
    """Full-document :func:`_repeat_spans`: ranks ``tile``-unit windows
    overlapping by ``min_len - 1`` units (see
    :func:`repeat_spans_sa_tiled` for why tiling loses nothing) and
    maps marks back to absolute unit offsets of the real doc."""
    if min_len < 2 or min_len > tile:
        raise ValueError(
            f"need 2 <= {g.kw[1]} <= tile, got {g.kw[1]}={min_len} tile={tile}"
        )
    stride = tile - (min_len - 1)
    wdocs = _tiled_docs(g, df, id_col, text_col, tile, stride)
    pos = _position_dup_lengths(g, wdocs, tile)
    base = (F.col("doc_id.w") - 1) * stride + F.col("off")
    return _merge_islands(
        _marks(pos, "dup_len", min_len, start=base, doc="doc_id.d")
    )


def _contamination_scores(
    g: _Grain,
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    max_units: int,
    min_len: int,
    bucket: int,
    max_bucket: int | None,
    full_doc: bool,
    int_alphabet: bool | str = False,
    max_alphabet: int = 4096,
) -> DataFrame:
    """(doc_id, off, m): the contamination scorer's front end — both
    sides' suffixes (head window, or every position when ``full_doc``)
    bucketed by their first ``bucket`` units, then the shared
    neighbour core (:func:`_neighbour_scores`).  Contract and
    semantics on :func:`sa_contamination_scores`."""
    mx, mn, bk = g.kw
    if bucket > min_len:
        raise ValueError(
            f"{bk} ({bucket}) must be <= {mn} ({min_len}): cross-bucket "
            f"neighbours share fewer than {bk} units, so a wider bucket "
            "would silently miss qualifying matches"
        )
    if full_doc and max_units < min_len:
        raise ValueError(
            f"full_doc compare length {mx} ({max_units}) must be >= "
            f"{mn} ({min_len}): a shorter compare window could not "
            "certify a qualifying match"
        )
    window = None if full_doc else max_units
    new_docs = _docs(g, new, id_col, text_col, window)
    seen_docs = _docs(g, seen, id_col, text_col, window)
    if int_alphabet:
        # array<int> suffixes shuffle/sort/compare several times
        # cheaper than array<string> (measured 24.5 -> 10.8 s on the
        # BPE flagship's scorer stage at sf0.1) with bit-identical
        # output — see _int_alphabet_encode for the soundness argument
        # and the bounded-vocabulary contract.  int_alphabet=True
        # asserts boundedness (raises past max_alphabet);
        # int_alphabet="auto" probes and falls back to the string
        # path when the vocabulary exceeds the cap — for callers
        # (word-token grain) whose alphabet is unbounded BY CONTRACT
        # but often bounded in practice; both paths are bit-identical
        # so the choice is invisible to every consumer and oracle.
        # int_alphabet="bounded" is "auto" minus the sample
        # pre-screen: for callers whose vocabulary is bounded by
        # construction (BPE pieces <= base chars + trained merges) the
        # pre-screen can never fire, so it is skipped — same soft
        # fallback, same execution-time unmapped-token guard (r16).
        enc = _int_alphabet_encode(
            [new_docs, seen_docs], max_alphabet,
            soft=(int_alphabet in ("auto", "bounded")),
            sample_screen=(int_alphabet != "bounded"),
        )
        if enc is not None:
            new_docs, seen_docs = enc
    new_suf = _suffixes(g, new_docs, max_units).withColumn(
        "_bk", g.slice(F.col("suf"), 1, bucket)
    )
    return _neighbour_scores(
        g,
        new_suf,
        _seen_suffixes(g, seen_docs, max_units, bucket),
        max_bucket=max_bucket,
        cap=max_units,
    )


def _seen_suffixes(g: _Grain, docs: DataFrame, cap: int, bucket: int) -> DataFrame:
    """(suf, _bk): the DISTINCT ``cap``-unit suffixes of ``docs`` with
    their first-``bucket``-unit prefix bucket — the seen side of every
    contamination scorer, batch and stream."""
    return (
        _suffixes(g, docs, cap)
        .select("suf")
        .distinct()
        .withColumn("_bk", g.slice(F.col("suf"), 1, bucket))
    )


def _capped_buckets(seen_suf: DataFrame, max_bucket: int, obs: str) -> DataFrame:
    """(_bk): the buckets of ``seen_suf`` holding at most
    ``max_bucket`` seen suffixes — the hot-bucket cap of every
    contamination scorer, batch and stream (see
    :func:`sa_contamination_scores`).  The count of dropped buckets
    rides the plan as the ``<obs>_<n>/dropped_hot_buckets`` observe
    metric."""
    from chewdata_spark.operators.dedup import _OBS_SEQ

    sizes = seen_suf.groupBy("_bk").agg(
        F.count(F.lit(1)).alias("_n")
    ).observe(
        f"{obs}_{next(_OBS_SEQ)}",
        F.sum(
            F.when(F.col("_n") > max_bucket, F.lit(1)).otherwise(F.lit(0))
        ).alias("dropped_hot_buckets"),
    )
    return sizes.filter(F.col("_n") <= max_bucket).select("_bk")


def _lcp_score(g: _Grain, cap: int) -> Column:
    """``m``: the longer LCP of ``suf`` with its seen neighbours
    ``_pred``/``_succ`` (0 where a neighbour is missing), bounded by
    ``cap`` units."""
    return F.greatest(*[
        F.when(F.col(nb).isNotNull(), F.expr(g.lcp(b=nb, cap=cap))).otherwise(0)
        for nb in ("_pred", "_succ")
    ]).cast("int").alias("m")


def _neighbour_scores(
    g: _Grain,
    new_suf: DataFrame,
    seen_suf: DataFrame,
    *,
    max_bucket: int | None,
    cap: int,
) -> DataFrame:
    """The grain-generic scoring core of the contamination scorers:
    seen-side hot-bucket cap (+ observe), arrival prefilter to
    seen-occupied buckets, exact arrival salting, ONE window per
    (bucket, salt) for the seen neighbours, bounded LCP cursors.
    ``new_suf`` is ``(doc_id, off, suf, _bk)``, ``seen_suf`` is
    distinct ``(suf, _bk)``; ``suf`` is a string (char grain) or an
    array (token grain — Spark array ordering is lexicographic with
    shorter-prefix-first, the exact suffix convention)."""
    from chewdata_spark.operators.dedup import _OBS_SEQ

    # r15 (guide §1 measured: the lazy seen pipeline evaluated ~3x —
    # cap sizes, occupied-bucket set, window input — 4.3 s/eval at
    # sf0.1): materialize the seen relation once.  r16 (verdict item
    # 3; guide §2.4): checkpoint the UNCAPPED relation — the r15 shape
    # checkpointed the CAPPED one, whose materialization evaluated the
    # expensive explode+distinct subtree TWICE (once for the cap
    # sizes, once as the semi-join's left side; profile_scorer.py:
    # cap stage 1.94 -> 4.71 s on top of the distinct).  Now the
    # explode+distinct runs exactly once and every bucket-grain
    # aggregate reads cheap checkpointed blocks.  Sound at scale: the
    # seen side is the eval/benchmark slice, contractually the small
    # side of full-document decontamination (the cap drops only
    # hot-BUCKET rows, so uncapped vs capped differs by a bounded
    # slice of that same small side).  The arrival side is
    # corpus-sized and is deliberately NEVER checkpointed —
    # recomputing its explode from the scan is cheaper than
    # materializing ~max_chars x corpus bytes.
    seen_suf = seen_suf.localCheckpoint(eager=False)
    occupied = None
    if max_bucket is not None:
        # the kept-bucket set IS the occupied-bucket set of the capped
        # relation (it only holds buckets with >= 1 seen suffix), so
        # the salt table below rides this tiny bucket-grain relation
        # instead of re-aggregating distinct buckets from the capped
        # seen rows
        occupied = _capped_buckets(seen_suf, max_bucket, "sa_ingest")
        seen_suf = seen_suf.join(occupied, "_bk", "left_semi")
    # the seen-side cap bounds the SEEN rows per bucket, but the window
    # below would still land every ARRIVING row of a bucket on one task
    # — a boilerplate-heavy arriving batch (every new doc opening with
    # the same bucket_len chars) is the skew case.  EXACT dynamic
    # salting: hot arrival buckets split into ceil(arrivals /
    # arrival_chunk) salt groups, the (capped) seen rows REPLICATE into
    # every salt group, and each new row hashes into exactly one — the
    # pred/succ aggregates read only seen rows, which every group holds
    # in full, so results are bit-identical to the unsalted window (the
    # oracle needs no mirror) while partition width is bounded by
    # max_bucket + arrival_chunk.  Replication is 1x everywhere except
    # hot arrival buckets; the salted-bucket count rides the plan as
    # the sa_arrivals_<n>/salted_hot_arrival_buckets observe metric.
    # EXACT bucket prefilter: an arriving position whose prefix bucket
    # holds NO seen suffix has pred = succ = NULL in the window below
    # and scores m = 0 — identical to what every consumer reads for it
    # (thresholds are >= min_len >= bucket_len; doc-grain wrappers
    # left-join + coalesce(0)).  Dropping those positions BEFORE the
    # window shrinks its input from ALL arriving positions to the
    # benchmark-adjacent fraction — at 100 TB, full-document
    # decontamination of a training corpus against a (relatively tiny)
    # eval slice stops sorting positions the eval slice cannot touch.
    # r15: the prefilter is now the salting join itself — the salt
    # table is restricted to seen-occupied buckets at BUCKET grain (a
    # semi-join of two tiny bucket sets), and the INNER join of
    # arrivals with that salt table drops non-occupied arrivals as a
    # side effect.  The former per-position semi-join (one extra pass
    # over every arriving position) disappears; per-bucket arrival
    # counts are unchanged, so _ns — and every score — is
    # bit-identical.  The salt table is bucket-grain (bounded by the
    # seen side's occupied buckets), so its checkpoint is small by the
    # same contract; materializing it folds the two salts evaluations
    # (seen_in's and new_in's) into one arrival pass.
    chunk = max_bucket if max_bucket is not None else 10_000
    if occupied is None:  # cap disabled: occupied = every seen bucket
        occupied = seen_suf.select("_bk").distinct()
    salts_plain = (
        new_suf.groupBy("_bk")
        .agg(
            F.greatest(
                F.lit(1),
                F.ceil(F.count(F.lit(1)) / F.lit(chunk)),
            ).cast("int").alias("_ns")
        )
        .join(occupied, "_bk", "left_semi")
        .localCheckpoint(eager=False)
    )
    salts_obs = salts_plain.observe(
        f"sa_arrivals_{next(_OBS_SEQ)}",
        F.sum(
            F.when(F.col("_ns") > 1, F.lit(1)).otherwise(F.lit(0))
        ).alias("salted_hot_arrival_buckets"),
    )
    seen_in = seen_suf.join(salts_obs, "_bk").select(
        F.lit(None).cast(new_suf.schema["doc_id"].dataType).alias("doc_id"),
        F.lit(None).cast("int").alias("off"),
        "suf",
        "_bk",
        F.lit(1).alias("_seen"),
        F.explode(F.expr("sequence(0, _ns - 1)")).alias("_salt"),
    )
    new_in = new_suf.join(salts_plain, "_bk").select(
        "doc_id", "off", "suf", "_bk", F.lit(0).alias("_seen"),
        F.pmod(F.xxhash64("doc_id", "off"), F.col("_ns"))
        .cast("int")
        .alias("_salt"),
    )
    u = new_in.unionByName(seen_in)
    # seen rows sort BEFORE new rows on equal suffixes (_seen desc), so
    # an exact whole-suffix match becomes the predecessor
    w = Window.partitionBy("_bk", "_salt").orderBy(
        "suf", F.col("_seen").desc()
    )
    seen_only = F.when(F.col("_seen") == 1, F.col("suf"))
    pred = F.last(seen_only, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    succ = F.first(seen_only, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return (
        u.withColumn("_pred", pred)
        .withColumn("_succ", succ)
        .filter(F.col("_seen") == 0)
        .select("doc_id", "off", _lcp_score(g, cap))
    )


def _seen_bucket_arrays(
    g: _Grain, docs: DataFrame, *, cap: int, bucket: int, max_bucket: int,
    obs: str,
) -> DataFrame:
    """(_bk, arr): the static seen side of the STREAMING contamination
    scorer (:func:`_stream_scores`) — the distinct ``cap``-unit
    suffixes of ``docs`` (``doc_id``, ``<g.col>``) grouped to ONE
    sorted array row per prefix bucket.  A stream cannot window across
    rows, so arrivals bisect these arrays instead.  A bucket's width
    is a row's width, so the hot-bucket cap applies BEFORE the
    collect: a boilerplate bucket never builds an unbounded row, and
    the drop count rides the ``<obs>_<n>/dropped_hot_buckets`` observe
    metric, the batch scorer's cap mirrored by the same oracle
    HAVING.  Stream-static joins re-execute the static side every
    micro-batch, so callers persist and materialize it before the
    stream starts."""
    seen_suf = _seen_suffixes(g, docs, cap, bucket)
    return (
        seen_suf.join(
            _capped_buckets(seen_suf, max_bucket, obs), "_bk", "left_semi"
        )
        .groupBy("_bk")
        .agg(F.sort_array(F.collect_list("suf")).alias("arr"))
    )


def _stream_scores(
    g: _Grain, arrivals: DataFrame, seen_arr: DataFrame, *, cap: int,
    bucket: int, max_bucket: int,
) -> DataFrame:
    """(doc_id, off, m): the STREAMING contamination scorer.  Each
    position of an arriving ``(doc_id, <g.col>)`` row takes its
    ``cap``-unit suffix, joins its bucket's sorted array from
    :func:`_seen_bucket_arrays` and bisects it (:func:`_bs_neighbours`)
    for ``pred`` = greatest seen <= suf and ``succ`` = least seen >
    suf — exactly the batch window's seen-before-new tie order, so the
    batch scorer's oracle replays the stream.  The join is
    stream-static and stateless.  An arrival with no units keeps one
    row with ``off`` NULL and ``m`` 0."""
    units = F.col(g.col)
    n = g.size(units)
    off = F.col("off")
    suf = (
        arrivals.withColumn(
            "off", F.explode_outer(F.when(n > 0, F.sequence(F.lit(1), n)))
        )
        .withColumn("suf", F.when(off.isNotNull(), g.slice(units, off, cap)))
        .withColumn("_bk", g.slice(F.col("suf"), 1, bucket))
    )
    nb = _bs_neighbours(
        suf.join(seen_arr, "_bk", "left"), max_bucket=max_bucket
    )
    return nb.select("doc_id", "off", _lcp_score(g, cap))


def _bs_neighbours(df: DataFrame, *, max_bucket: int) -> DataFrame:
    """Adds ``_pred``/``_succ`` — the greatest seen suffix <= ``suf``
    and the least seen suffix > ``suf`` inside the SORTED bucket array
    ``arr`` — via a fixed-depth binary search: O(log ``max_bucket``)
    compares per arriving suffix.  An earlier revision used two
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


def _int_alphabet_encode(
    sides: list[DataFrame],
    max_alphabet: int,
    *,
    soft: bool = False,
    sample_screen: bool = True,
) -> list[DataFrame] | None:
    """Rewrite each ``(doc_id, toks: array<string>)`` relation to
    ``array<int>`` under ONE shared rank-ordered dictionary built from
    the union vocabulary of all sides.

    Sound for the neighbour-LCP scorer for ANY injective alphabet
    mapping: LCP depends on element EQUALITY only, and lexicographic
    sorting under any total alphabet order still places every
    suffix's max-LCP neighbour adjacent (equal prefixes stay
    contiguous), so ``m`` — and the first-``bucket_tokens`` buckets,
    cap sizes, and salting, all injective images — are bit-identical
    to the string-array run.  Rank order (IDs assigned in sorted
    token order) is chosen anyway so the sorted stream itself is
    reproducible.

    DRIVER COLLECT BY CONTRACT: the dictionary is collected, so the
    caller must know the vocabulary is bounded (BPE pieces: base
    symbols + trained merges).  ``max_alphabet`` is a hard guard —
    exceeding it raises instead of silently shipping a giant literal
    map through codegen.  Unbounded vocabularies (whitespace word
    tokens at corpus scale) must stay on the string path."""
    vocab = _union([t.select(F.explode("toks").alias("_tok")) for t in sides])
    if soft and sample_screen:
        # cheap pre-screen for the decline path: if a 2% sample's
        # vocabulary already exceeds the cap, the full vocabulary does
        # too (monotone) — decline without shuffling the full distinct
        # of an unbounded word vocabulary.  A small sample vocabulary
        # proves nothing, so the accept path still runs (and guards)
        # the full probe below.  Callers whose vocabulary is bounded
        # BY CONSTRUCTION (BPE pieces: base chars + trained merges)
        # pass sample_screen=False — the pre-screen is an extra
        # corpus-scale explode+distinct+collect job inside the timed
        # construct window that can never fire for them (r16 A/B:
        # 29.09 -> 27.54 s on the BPE flagship, interleaved).
        sample = (
            vocab.sample(0.02, seed=7)
            .distinct()
            .limit(max_alphabet + 1)
            .collect()
        )
        if len(sample) > max_alphabet:
            return None
    rows = vocab.distinct().limit(max_alphabet + 1).collect()
    if len(rows) > max_alphabet:
        if soft:
            # "auto" mode: the probe found an unbounded-looking
            # vocabulary — decline, the caller keeps the string path
            # (bit-identical results, just without the int speedup)
            return None
        raise ValueError(
            f"int-alphabet dictionary exceeds max_alphabet="
            f"{max_alphabet}: the vocabulary is not bounded enough for "
            "a literal-map encode; use the string path"
        )
    mapping = {tok: i + 1 for i, tok in enumerate(sorted(
        r["_tok"] for r in rows
    ))}
    return [_apply_int_dictionary(t, mapping) for t in sides]


def _apply_int_dictionary(
    toks: DataFrame, mapping: dict[str, int]
) -> DataFrame:
    """Rewrite ``toks`` (array<string>) to array<int> under
    ``mapping``, with an execution-time guard: a token absent from
    the construction-time dictionary would encode to NULL, and NULL
    equality halts the LCP fold — silently under-reporting ``m``.
    That can only happen if the input relation differs between the
    probe collect and execution (non-deterministic or re-evaluated
    upstream); fail loudly instead of corrupting scores."""
    pairs = [F.lit(x) for kv in mapping.items() for x in kv]
    mp = F.create_map(*pairs) if pairs else F.create_map()
    return toks.withColumn(
        "toks",
        F.transform(
            F.col("toks"),
            lambda t: F.coalesce(
                mp[t],
                F.raise_error(F.concat(
                    F.lit(
                        "int-alphabet encode: token absent from "
                        "construction-time dictionary (upstream "
                        "relation changed between probe and "
                        "execution): "
                    ),
                    t,
                )).cast("int"),
            ),
        ),
    )


def _doc_gate(
    scored: DataFrame, new: DataFrame, id_col: str, min_len: int, out: str
) -> DataFrame:
    """The doc-grain contamination gate over a position scorer's
    output: one row per ARRIVING doc, ``(doc_id, <out>, kept)`` —
    left-join pass-through of every arrival, coalesce-to-0 for docs
    the scorer omitted, strict ``<`` threshold."""
    per_doc = scored.groupBy("doc_id").agg(F.max("m").cast("int").alias(out))
    best = F.coalesce(out, F.lit(0))
    arriving = new.select(F.col(id_col).alias("doc_id"))
    return arriving.join(per_doc, "doc_id", "left").select(
        "doc_id", best.alias(out), (best < min_len).alias("kept")
    )


def suffix_ranks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 256,
) -> DataFrame:
    """(doc_id, off, rank): the corpus suffix array as a rank relation —
    ``rank`` is the NON-DENSE 1-based position rank of suffix
    ``text[off:]`` in the sorted order of ALL suffixes (``1 +
    #positions with a strictly smaller suffix``; identical suffixes
    share a rank, and the next distinct suffix sits at ``rank + m``).

    ISA-style prefix doubling: each round splits tie groups in place —
    ``rank(p) = 1 + #smaller`` is invariant under refinement, because a
    group member with k in-group predecessors under ``nxt`` gains
    exactly k newly-smaller positions, so ``rank += rank() - 1``
    windowed WITHIN the group is the whole update.  Singleton groups
    are final and leave the working set; every window partitions by
    the previous rank; an eager localCheckpoint per round truncates the
    iterative lineage (and flags the query construct-each for bench)."""
    return _suffix_ranks(
        _CHAR, _docs(_CHAR, df, id_col, text_col, max_chars), max_chars
    ).select("doc_id", "off", "rank")


def suffix_ranks_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 64,
) -> DataFrame:
    """TOKEN-grain twin of :func:`suffix_ranks`: positions are
    whitespace-token indices (``off`` = 1-based token position), the
    suffix order is lexicographic over TOKENS (each token compared as
    a string), and the doubling loop is shared verbatim.

    Why a second grain: the position count — which every stage of the
    doubling loop is linear in — drops by the mean token length (~5-6x
    on prose) for the same text-window budget, and Lee et al. 2022 run
    their suffix arrays over BPE tokens for exactly this reason.  The
    price is granularity: repeats are detected at whole-token
    boundaries only.

    Round-0 ranks cover the first TWO tokens via a (w1, w2) STRUCT
    key (see :func:`_token_ranks` for why a joined-string key is
    unsound).  The token alphabet is VOCABULARY-sized (not
    charset-sized), so the base prefix sum is the two-level
    order-preserving device (`_bucketed_rank` in operators/curation.py,
    same argument): the corpus-sized window partitions by the FIRST
    token's 2-char prefix (prefix order agrees with pair order), and
    only the bucket-count offsets (≤ charset² rows) see an
    unpartitioned window."""
    return _suffix_ranks(
        _TOKEN, _docs(_TOKEN, df, id_col, text_col, max_tokens), max_tokens
    ).select("doc_id", "off", "rank")


def longest_repeated_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 256,
    min_len: int = 10,
    top_n: int = 20,
) -> DataFrame:
    """Top-``top_n`` longest substrings (within the first ``max_chars``
    chars of each doc) that occur at least twice in the corpus —
    ``(substring, length)`` ordered by (length desc, substring asc).

    Every repeated substring is a prefix of two suffixes adjacent in
    suffix order, so the candidates are exactly the adjacent-pair LCPs
    plus the duplicated-suffix groups (rank multiplicity >= 2, LCP =
    whole suffix).  With non-dense ranks the successor group of
    ``(rank, m)`` sits at exactly ``rank + m`` — adjacency is that
    equi-join; the LCP is one bounded ``aggregate()`` cursor per
    adjacent pair."""
    return _longest_repeats(
        _CHAR, df, id_col, text_col, max_chars, min_len, top_n,
        "substring", lambda c: c,
    )


def repeat_spans_sa(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 256,
    min_len: int = 10,
) -> DataFrame:
    """Per-document merged char spans covered by a WHOLE substring of
    length >= ``min_len`` that occurs at least twice in the corpus —
    Lee et al. 2022's exact-substring dedup mark, computed from the
    suffix array (the k-gram span path marks k-gram islands, which may
    be chimeric; this marks true whole-substring repeats).

    Identity used on both engines: the longest repeated prefix of a
    suffix equals the max of its LCPs with its two NEIGHBOURS in suffix
    order (identical suffixes — rank multiplicity >= 2 — repeat whole).
    Per-position dup lengths are therefore one rank-group join; spans
    merge with the standard gaps-and-islands cumulative-max window per
    doc (bounded by the doc's own positions).

    Returns ``(doc_id, span_start, span_end)`` — 1-based, end
    inclusive, within the first ``max_chars`` chars of each doc.
    """
    return _repeat_spans(_CHAR, df, id_col, text_col, max_chars, min_len)


def cut_repeat_spans_sa(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 256,
    min_len: int = 10,
) -> DataFrame:
    """End-to-end Lee et al. 2022 exact-substring dedup: cut the
    per-doc merged spans covered by a WHOLE repeated substring
    (:func:`repeat_spans_sa`) out of the text and reassemble — the
    removal half composed with the suffix-array mark half (the k-gram
    twin is ``operators/dedup.py::cut_duplicate_spans``, which cuts
    k-gram islands and so can cut chimeras; this cuts only true
    whole-substring repeats).

    Marks live within the first ``max_chars`` chars (the declared SA
    window); the tail beyond the window is always kept.  Spans arrive
    merged and non-overlapping per doc, so the cut is one
    ``aggregate()`` cursor over the doc's own (few) spans — no
    per-char explode, no window.  Docs with no marked span pass
    through unchanged via the left join.

    Returns ``(doc_id, clean_text, n_spans, n_cut)`` — ``n_cut`` =
    chars removed, deterministic (first-occurrence keeps nothing
    special: a whole-repeat span is cut in EVERY doc position it
    covers, exactly Lee et al.'s "remove all but one" simplification to
    "remove every marked occurrence" at the span grain).
    """
    spans = repeat_spans_sa(
        df, id_col, text_col, max_chars=max_chars, min_len=min_len
    )
    return _cut_spans(_CHAR, df, id_col, text_col, spans)


def repeat_spans_sa_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 64,
    min_tokens: int = 5,
) -> DataFrame:
    """TOKEN-grain twin of :func:`repeat_spans_sa`: per-document merged
    TOKEN spans covered by a whole sequence of >= ``min_tokens``
    whitespace tokens occurring at least twice in the corpus.  Same
    neighbour-LCP identity, same gaps-and-islands merge — the LCP
    cursor compares tokens via ``element_at`` instead of chars, and
    spans are 1-based token indices (inclusive) within the first
    ``max_tokens`` tokens of each doc."""
    return _repeat_spans(_TOKEN, df, id_col, text_col, max_tokens, min_tokens)


def sa_contamination_scores(
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 128,
    min_len: int = 30,
    bucket_len: int = 8,
    max_bucket: int | None = 10_000,
    full_doc: bool = False,
) -> DataFrame:
    """(doc_id, off, m): per ARRIVING suffix position, the length of
    the longest prefix it shares with ANY seen suffix — the raw
    per-position relation behind
    :func:`sa_incremental_contamination` (which doc-maxes it) and the
    contamination-evidence report (which needs ``off`` to excerpt the
    leaked run).  Semantics, bucketing and the declared sub-bucket
    grain are documented on the doc-grain wrapper.

    OUTPUT CONTRACT: positions whose prefix bucket holds NO seen
    suffix are OMITTED, not emitted with ``m = 0`` (the exact arrival
    prefilter — their score is provably 0, below every decision
    threshold).  Consumers must therefore treat a missing position as
    ``m = 0``: filter on ``m >= min_len`` (absent rows cannot
    qualify) or doc-max through a LEFT join from the arrivals with
    ``coalesce(0)`` — never count rows or average ``m`` over this
    relation as if it were position-complete.

    ``full_doc=True`` scans EVERY position of every doc on both sides
    (no head window — a leak at char 500 is found); ``max_chars`` then
    bounds only the per-suffix COMPARE length, which is sound for the
    >= ``min_len`` decision because truncating both sides at any
    ``L >= min_len`` preserves "shared prefix >= min_len" exactly — it
    merely caps the reported ``m`` at ``L`` (so positions inside a
    longer run chain overlapping caps; the span union still covers the
    whole run).  Unlike the repeat-spans family, full-document
    contamination needs NO window tiling: no suffix array is built —
    arrivals compare directly against seen neighbours per prefix
    bucket.

    ``max_bucket`` is the standard hot-bucket cap every LSH-family
    operator here carries: a prefix bucket holding more than
    ``max_bucket`` DISTINCT seen suffixes (corpus-wide boilerplate —
    every doc opening with the same ``bucket_len`` chars) is dropped
    from the seen side BEFORE the per-bucket windows, so its width
    never lands on one task; arrivals in a dropped bucket read as
    uncontaminated there.  Never silent: the count of dropped buckets
    rides the plan as an ``observe`` metric
    (``sa_ingest_<n>/dropped_hot_buckets``), and the oracle mirrors
    the cap with a HAVING on the same bucket grain.  Raise
    ``bucket_len`` toward ``min_len`` to split hot buckets before
    resorting to a higher cap; ``None`` disables.

    The ARRIVAL side needs no cap: hot arrival buckets are split into
    salt sub-groups (seen rows replicated into each, so pred/succ —
    seen-only aggregates — are bit-identical to the unsalted window;
    no oracle mirror needed) and the per-task window partition is
    bounded by ``max_bucket`` seen + ``max_bucket`` new rows.  Salted
    bucket count rides the ``sa_arrivals_<n>/
    salted_hot_arrival_buckets`` observe metric; planted test:
    tests/test_span_winnowing.py::test_sa_arrival_hot_bucket_salting."""
    return _contamination_scores(
        _CHAR, new, seen, id_col, text_col,
        max_chars, min_len, bucket_len, max_bucket, full_doc,
    )


def sa_contamination_scores_tokens(
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 32,
    min_tokens: int = 5,
    bucket_tokens: int = 2,
    max_bucket: int | None = 10_000,
    full_doc: bool = False,
    int_alphabet: bool | str = False,
    max_alphabet: int = 4096,
) -> DataFrame:
    """(doc_id, off, m): TOKEN-grain twin of
    :func:`sa_contamination_scores` — ``m`` is the longest TOKEN
    prefix an arriving token-suffix shares with any seen token-suffix,
    robust to the whitespace/formatting differences the char grain
    trips over (Lee et al. 2022 match at token grain for this reason).
    Suffixes are token ARRAYS (never separator-joined strings — no
    separator sorts below every token byte, see :func:`_token_ranks`;
    Spark array ordering is lexicographic with shorter-prefix-first,
    the exact suffix convention) and the prefix bucket is the first
    ``bucket_tokens`` tokens, so cross-bucket neighbours share
    < ``bucket_tokens`` <= ``min_tokens`` tokens — provably below the
    decision threshold.  Cap, arrival prefilter, salting and the
    per-bucket window are the shared unit-agnostic core
    (:func:`_neighbour_scores`); ``full_doc=True`` scans every token
    position with ``max_tokens`` as the per-suffix COMPARE cap (sound
    for the >= ``min_tokens`` decision by the same truncation argument
    as the char scorer)."""
    return _contamination_scores(
        _TOKEN, new, seen, id_col, text_col,
        max_tokens, min_tokens, bucket_tokens, max_bucket, full_doc,
        int_alphabet, max_alphabet,
    )


def sa_incremental_contamination_tokens(
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 32,
    min_tokens: int = 5,
    bucket_tokens: int = 2,
    max_bucket: int | None = 10_000,
    full_doc: bool = False,
    int_alphabet: bool | str = False,
    max_alphabet: int = 4096,
) -> DataFrame:
    """Doc-grain TOKEN contamination gate — the token twin of
    :func:`sa_incremental_contamination`: one row per ARRIVING doc,
    ``(doc_id, max_shared_tokens, kept)`` with ``kept =
    max_shared_tokens < min_tokens``.  Owns the gate contract for the
    grain (left-join pass-through of every arrival, coalesce-to-0 for
    docs the position scorer omitted, strict ``<`` threshold) so the
    token and BPE queries cannot drift from each other — scoring
    semantics on :func:`sa_contamination_scores_tokens`."""
    scored = _contamination_scores(
        _TOKEN, new, seen, id_col, text_col,
        max_tokens, min_tokens, bucket_tokens, max_bucket, full_doc,
        int_alphabet, max_alphabet,
    )
    return _doc_gate(scored, new, id_col, min_tokens, "max_shared_tokens")


def cut_contaminated_spans_sa_tokens(
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 32,
    min_tokens: int = 5,
    bucket_tokens: int = 2,
    max_bucket: int | None = 10_000,
    full_doc: bool = False,
    int_alphabet: bool | str = False,
    max_alphabet: int = 4096,
) -> DataFrame:
    """TOKEN-grain span decontamination: every run of >= ``min_tokens``
    tokens an arriving doc shares verbatim with the seen corpus is cut
    from its token stream and the doc reassembles whitespace-normalized
    (the token-grain contract, see :func:`cut_repeat_spans_sa_tokens`).
    Marks are ``[off, off + m - 1]`` token intervals from
    :func:`sa_contamination_scores_tokens`; merge + cut reuse the
    shared island/splice devices.  Returns ``(doc_id, clean_text,
    n_spans, n_cut)`` with ``n_cut`` in TOKENS."""
    scored = _contamination_scores(
        _TOKEN, new, seen, id_col, text_col,
        max_tokens, min_tokens, bucket_tokens, max_bucket, full_doc,
        int_alphabet, max_alphabet,
    )
    spans = _merge_islands(_marks(scored, "m", min_tokens))
    return _cut_spans(_TOKEN, new, id_col, text_col, spans)


def sa_incremental_contamination(
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 128,
    min_len: int = 30,
    bucket_len: int = 8,
    max_bucket: int | None = 10_000,
    full_doc: bool = False,
) -> DataFrame:
    """INCREMENTAL suffix-array maintenance for ingest dedup: each
    arriving doc is ranked against the EXISTING corpus's suffix order
    — no rebuild, no prefix doubling on either side.

    Classic SA identity: the longest substring an arriving doc shares
    with the seen corpus is ``max over its suffixes s of
    max(LCP(s, pred), LCP(s, succ))`` where pred/succ are the nearest
    SEEN suffixes below/above ``s`` in sorted suffix order (LCP is a
    min over the sorted range, so the nearest neighbour on each side
    maximizes it).  Neighbour-finding never needs a global sort:
    suffixes bucket by their first ``bucket_len`` chars, and a
    cross-bucket neighbour's LCP is < ``bucket_len`` <= ``min_len`` by
    construction — provably irrelevant to the decision — so ONE
    window per prefix bucket (ordered by suffix, seen rows before new
    rows on ties so exact matches resolve to the full length) finds
    both neighbours via seen-only last/first with ignorenulls.

    Declared grain: shared lengths below ``bucket_len`` read as 0 (a
    sub-anchor match can never reach ``min_len``); raise ``bucket_len``
    toward ``min_len`` at scale to narrow the windows — bucket width is
    the count of suffixes sharing a ``bucket_len``-char prefix, the
    same knob as every LSH band here.

    Returns one row per ARRIVING doc: ``(doc_id, max_shared_len,
    kept)`` — ``kept = max_shared_len < min_len`` (docs with a whole
    >= ``min_len``-char substring already in the corpus drop).  Batch
    cost: new positions + seen suffixes in TOUCHED buckets only
    (semi-join); per-batch, idempotent, history never re-ranked.
    """
    scored = _contamination_scores(
        _CHAR, new, seen, id_col, text_col,
        max_chars, min_len, bucket_len, max_bucket, full_doc,
    )
    return _doc_gate(scored, new, id_col, min_len, "max_shared_len")


def cut_repeat_spans_sa_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 64,
    min_tokens: int = 5,
) -> DataFrame:
    """TOKEN-grain twin of :func:`cut_repeat_spans_sa`: merged
    whole-repeat TOKEN spans (:func:`repeat_spans_sa_tokens`) are cut
    out of each doc's token stream and the doc reassembles by joining
    the surviving tokens with single spaces — the output is therefore
    WHITESPACE-NORMALIZED by declaration (the token relation cannot
    carry the original inter-token whitespace; this is the standard
    contract of token-grain dedup pipelines, Lee et al. included).

    Spans live within the first ``max_tokens`` tokens (the declared SA
    window); tokens beyond the window are always kept.  The cut is one
    ``aggregate()`` cursor over each doc's own merged spans — array
    slices instead of substrings, no explode, no window.

    Returns ``(doc_id, clean_text, n_spans, n_cut)`` — ``n_cut`` in
    TOKENS."""
    spans = repeat_spans_sa_tokens(
        df, id_col, text_col, max_tokens=max_tokens, min_tokens=min_tokens
    )
    return _cut_spans(_TOKEN, df, id_col, text_col, spans)


def position_repeat_lengths(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 256,
) -> DataFrame:
    """(doc_id, off, dup_len): for every position, the length of the
    longest WHOLE substring starting there that occurs at least twice
    in the corpus — the raw per-position relation behind
    :func:`repeat_spans_sa` (which thresholds and island-merges it),
    exposed unfiltered so threshold-tuning queries can histogram it:
    picking Lee et al.'s ``min_len`` IS a corpus measurement, not a
    constant.  Same neighbour-LCP identity, one rank-group join."""
    docs = _docs(_CHAR, df, id_col, text_col, max_chars)
    return _position_dup_lengths(_CHAR, docs, max_chars)


def longest_repeated_sequences_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int = 64,
    min_tokens: int = 3,
    top_n: int = 20,
) -> DataFrame:
    """TOKEN-grain twin of :func:`longest_repeated_substrings`:
    top-``top_n`` longest TOKEN sequences (within the first
    ``max_tokens`` tokens of each doc) occurring at least twice in the
    corpus, returned space-joined with their length in tokens.  Same
    candidates as the char version — adjacent-group LCP prefixes plus
    whole duplicated suffixes (rank multiplicity >= 2) — ordered by
    (length desc, sequence asc)."""
    return _longest_repeats(
        _TOKEN, df, id_col, text_col, max_tokens, min_tokens, top_n,
        "seq", lambda c: F.array_join(c, " "),
    )


def repeat_spans_sa_tiled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    tile: int = 128,
    min_len: int = 10,
) -> DataFrame:
    """FULL-DOCUMENT :func:`repeat_spans_sa`: merged char spans covered
    by a whole substring of length >= ``min_len`` repeated in the
    corpus, over the ENTIRE text of every doc — no head-window cap.

    Device: tile each doc into ``tile``-char windows overlapping by
    ``min_len - 1`` chars (stride = ``tile - min_len + 1``) and run the
    shared SA machinery with ``(doc, window)`` as the pseudo-doc key;
    marks map back to absolute char offsets and merge per REAL doc.
    Per-window suffixes truncate at the window end, so the doubling
    loop still runs log2(tile) rounds over ~``len/stride`` windows per
    doc — position grain = doc chars x tile/stride (~1.3x at the 128/30
    defaults), NOT chars x doc length.

    Exactness (why tiling loses nothing):

    * containment — every ``min_len``-char repeat occurrence fits
      wholly inside at least one window (stride leaves ``min_len - 1``
      overlap), and a position covered by a longer repeat is covered by
      a ``min_len``-char sub-repeat ending no earlier, so the marked
      POSITION SET equals the untiled full-document one;
    * no self-collisions — the same absolute position appearing in two
      adjacent windows carries suffix copies of which the shorter has
      < ``min_len`` chars (the overlap region is the window's last
      ``min_len - 1`` chars), so a position can never certify a repeat
      against its own other copy.

    Equivalently (and how the independent oracle computes it): the
    marked set is exactly the positions covered by a ``min_len``-gram
    occurring >= 2 times in the corpus — every >= ``min_len`` whole
    repeat is a union of duplicated ``min_len``-grams and vice versa.

    Returns ``(doc_id, span_start, span_end)`` — 1-based absolute char
    offsets, end inclusive, anywhere in the doc."""
    return _tiled_repeat_spans(_CHAR, df, id_col, text_col, tile, min_len)


def cut_repeat_spans_sa_tiled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    tile: int = 128,
    min_len: int = 10,
) -> DataFrame:
    """FULL-DOCUMENT :func:`cut_repeat_spans_sa`: Lee et al. 2022
    exact-substring dedup over the ENTIRE text of every doc — the
    tiled-window span mark (:func:`repeat_spans_sa_tiled`) composed
    with the shared span-cut cursor.  A repeat living at char 500 is
    cut here; the head-window variant never sees it.

    Returns ``(doc_id, clean_text, n_spans, n_cut)``."""
    spans = repeat_spans_sa_tiled(
        df, id_col, text_col, tile=tile, min_len=min_len
    )
    return _cut_spans(_CHAR, df, id_col, text_col, spans)


def cut_contaminated_spans_sa(
    new: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_chars: int = 128,
    min_len: int = 30,
    bucket_len: int = 8,
    max_bucket: int | None = 10_000,
    full_doc: bool = False,
) -> DataFrame:
    """SPAN-grain decontamination of ARRIVING docs against a STATIC
    corpus: every span of an arriving doc covered by a whole
    >= ``min_len``-char substring ALREADY PRESENT in the seen corpus
    is cut out and the doc reassembles —
    :func:`sa_incremental_contamination` gates whole docs on the same
    evidence; this removes just the leaked runs and keeps the rest,
    the per-span analogue Lee et al. 2022 apply between train and
    eval sets.

    Marks come from the incremental ranker's per-position shared
    lengths (:func:`sa_contamination_scores` — nearest SEEN neighbours
    per prefix bucket, no rebuild, hot buckets capped), so the per-doc
    span set is ``[off, off + m - 1]`` for every position sharing
    >= ``min_len`` chars; spans merge per doc and the shared cut
    cursor splices the kept pieces.  By default marks live within the
    first ``max_chars`` chars (the declared window) and the tail
    beyond is always kept; ``full_doc=True`` marks and cuts leaked
    runs ANYWHERE in the doc (``max_chars`` then only bounds the
    per-suffix compare — overlapping capped marks still cover a run
    longer than the cap, see :func:`sa_contamination_scores`).
    Returns ``(doc_id, clean_text, n_spans, n_cut)`` for every
    arriving doc (unmarked docs pass through)."""
    scored = _contamination_scores(
        _CHAR, new, seen, id_col, text_col,
        max_chars, min_len, bucket_len, max_bucket, full_doc,
    )
    spans = _merge_islands(_marks(scored, "m", min_len))
    return _cut_spans(_CHAR, new, id_col, text_col, spans)


def repeat_spans_sa_tokens_tiled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    tile: int = 64,
    min_tokens: int = 5,
) -> DataFrame:
    """FULL-DOCUMENT :func:`repeat_spans_sa_tokens`: merged TOKEN spans
    covered by a whole sequence of >= ``min_tokens`` tokens repeated in
    the corpus, over the ENTIRE token stream of every doc — the
    token-grain twin of :func:`repeat_spans_sa_tiled`, with the same
    exactness argument one alphabet up: every >= ``min_tokens`` repeat
    occurrence fits wholly inside at least one window (windows overlap
    by ``min_tokens - 1`` tokens), a position's own copy in the
    adjacent window carries < ``min_tokens`` tokens, and coverage by
    whole repeats equals coverage by duplicated ``min_tokens``-grams —
    the independent oracle's algorithm.

    Returns ``(doc_id, span_start, span_end)`` — 1-based absolute
    TOKEN indices, end inclusive, anywhere in the doc."""
    return _tiled_repeat_spans(_TOKEN, df, id_col, text_col, tile, min_tokens)


def cut_repeat_spans_sa_tokens_tiled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    tile: int = 64,
    min_tokens: int = 5,
) -> DataFrame:
    """FULL-DOCUMENT :func:`cut_repeat_spans_sa_tokens`: whole-repeat
    token spans marked ANYWHERE in each doc by the tiled-window
    token-grain suffix array and cut out of the token stream
    (whitespace-normalized reassembly, the token-grain contract).

    Returns ``(doc_id, clean_text, n_spans, n_cut)`` — ``n_cut`` in
    TOKENS."""
    spans = repeat_spans_sa_tokens_tiled(
        df, id_col, text_col, tile=tile, min_tokens=min_tokens
    )
    return _cut_spans(_TOKEN, df, id_col, text_col, spans)
