"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame transforms (JVM expressions, no Python
row loops) so they compose with the rest of the engine and scale:

* exact dedup        — md5 fingerprint + hash aggregation
* MinHash            — k md5-based min-hashes over word 3-shingles;
                       deterministic (no rand()), so results are
                       reproducible and oracle-checkable
* MinHash-LSH        — band the signature, bucket-join candidates;
                       the 100 TB path: candidate generation touches
                       only same-bucket pairs instead of all O(n²)
* exact n-gram Jaccard — explode shingles + self-join; the verifier
                       used downstream of LSH candidates (and an exact
                       oracle-checkable near-dup op at small scale)

Scale notes: the shingle self-join shuffles on an int64 shingle hash
(8-byte keys); hot shingles (stopword runs) are capped via frequency
filtering (``max_shingle_freq``) — the classic "drop ubiquitous
shingles" trick, which both bounds the join fan-out and removes noise
pairs. SimHash pair-finding buckets on bit-slices (pigeonhole bound),
so every path here is a hash join, never an all-pairs product.
"""

from __future__ import annotations

from contextlib import nullcontext

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from datawarehouse_spark.operators.partitioning import widen_narrow_input
from datawarehouse_spark.operators.pin import pinned


def tokens_col(text: str = "text") -> Column:
    return F.split(F.col(text), " ")


def shingles_col(text: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> column."""
    toks = tokens_col(text)
    return F.array_distinct(
        F.when(
            F.size(toks) < n,
            F.array(F.col(text)),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def _salted_md5(col, salt: int) -> Column:
    """md5 of the (optionally salted) shingle — materialized ONCE in
    the pre-aggregation projection; the k min-hash functions then each
    read a DISJOINT 10-hex-digit (40-bit) slice, so they are as
    independent as k separate md5s at ceil(k/3) the hashing cost.
    Computing the md5 inside each aggregate expression instead would
    silently pay k hashes — Catalyst does not CSE across agg exprs.

    The slices stay STRINGS: lexicographic min on fixed-length
    lowercase hex equals numeric min, and measured at sf0.1 the
    substring min-agg (2.2 s) beats both conv-to-bigint (2.8 s — conv
    is an expensive string base-parse per row) and the legacy k-md5
    hex form (3.4 s). (Cheaper mixes measurably fail: a shift-mix of
    one 40-bit base without wraparound is monotone — all k argmins
    identical, 100 vs 29 band collisions at sf0.01 — and even a
    wrapping 2-base affine family over Z_p keeps enough cross-function
    correlation to inflate band collisions 66 vs 29; disjoint slices
    restore exact independence.)"""
    return F.md5(col) if salt == 0 else F.md5(F.concat(F.lit(f"{salt}|"), col))


def minhash_signature(df: DataFrame, id_col: str = "doc_id", text: str = "text",
                      k: int = 8, n: int = 3, hash: str = "md5mix") -> DataFrame:
    """doc_id + mh0..mh{k-1} columns.

    Shape matters: explode shingles → k hash columns per shingle row →
    groupBy(doc) min-aggregate. The naive k-array-expressions form
    re-evaluates tokenize+shingle k× (Catalyst CollapseProject inlines
    the shared alias) and runs as one giant projection; the exploded
    form computes shingles once, runs partial min-aggregation
    map-side, and parallelizes across row splits — the same plan that
    scales to 100 TB of documents.

    ``hash="md5mix"`` (default) pays ceil(k/3) md5s per shingle — hash
    function j min-aggregates the disjoint 10-hex-digit slice ``j % 3``
    of salted md5 ``j // 3`` (:func:`_salted_md5`) — oracle-portable,
    ~35% faster than ``"md5"`` (k md5s, the legacy portable form) with
    identical statistics. ``hash="xxhash64"`` is the pure-speed variant
    for banding paths where no cross-engine check is needed.
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    sh = df.select(F.col(id_col), F.explode(shingles_col(text, n)).alias("_s"))
    if hash == "xxhash64":
        cols = [
            F.min(F.xxhash64(F.concat(F.lit(f"{j}|"), F.col("_s")))).alias(f"mh{j}")
            for j in range(k)
        ]
    elif hash == "md5mix":
        n_salts = (k + 2) // 3
        sh = sh.select(
            id_col,
            *[_salted_md5(F.col("_s"), t).alias(f"_x{t}") for t in range(n_salts)],
        )
        cols = [
            F.min(
                F.substring(F.col(f"_x{j // 3}"), 1 + 10 * (j % 3), 10)
            ).alias(f"mh{j}")
            for j in range(k)
        ]
    else:
        cols = [
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("_s")))).alias(f"mh{j}")
            for j in range(k)
        ]
    return sh.groupBy(id_col).agg(*cols)


def lsh_candidates(sig: DataFrame, id_col: str = "doc_id", k: int = 8,
                   band_size: int = 2, persist: bool = True) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any MinHash band.

    Bands the k-column signature into k/band_size buckets and
    bucket-joins. O(sum of bucket²) instead of O(n²) — the scale path.
    Probabilistic recall: P(candidate) = 1-(1-s^band_size)^(k/band_size)
    for true Jaccard s; tune k/band_size to the target threshold.

    ``persist=True`` caches the banded rows before the self-join:
    neither physical-planning ReuseExchange nor AQE dedups the two
    identical signature subplans here (verified empirically), so
    without the cache the full shingle-explode → hash → min-agg
    pipeline — the expensive stage — runs twice. The cache is
    n_docs × n_bands short rows (tens of bytes each), far smaller than
    the corpus; at the 100 TB regime where even that overflows,
    ``persist=False`` trades the memory for the recompute.

    With ``persist=True`` the far smaller candidate-pair result is
    materialized eagerly (``localCheckpoint``) while the banded rows
    are pinned (:func:`~datawarehouse_spark.operators.pin.pinned`).
    """
    n_bands = k // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig.select(id_col, F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_key"
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    if persist:
        with pinned(exploded):
            cand = cand.localCheckpoint(eager=True)
    return cand


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_shingle_freq: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold via shingle self-join.

    Exact (not probabilistic): |A∩B| from the join, sizes from per-doc
    counts, jaccard = i/(na+nb-i). ``max_shingle_freq`` drops shingles
    appearing in more than that many docs — bounds fan-out at scale —
    via a broadcast anti-join against the (tiny by construction)
    hot-shingle list, so the cap costs one map-combined count pass plus
    a map-side filter, never a shuffle join against the keep-list.

    ``persist=True`` (default) computes the shingle set once and pins
    it (:func:`~datawarehouse_spark.operators.pin.pinned`) — measured
    3-4× faster at sf0.1 — while the (far smaller) qualifying-pair
    result is materialized eagerly (``localCheckpoint``). When the
    shingle set exceeds cluster cache (the 100 TB regime), pass
    ``persist=False`` — the capped path touches
    the shingle stream only three times (hot count, sizes, group), all
    single-pass aggregations.

    Capped path (``max_shingle_freq`` set — every registry call): after
    the hot anti-join every shingle group holds ≤ cap instances, so
    instead of the shingle self-join (which shuffles the full stream
    TWICE and re-shuffles the joined pairs) the pairs come from ONE
    group-by-shingle ``collect_list`` — bounded ≤ cap ids per group by
    construction — double-exploded into (doc_a < doc_b) combinations
    and count-aggregated. Identical (i, na, nb) integers: per shingle
    the instance cross-product with ``id_a < id_b`` is exactly what the
    old equi-join emitted, summed by the same pair-key aggregation.
    The uncapped path keeps the self-join: without the cap a single
    group's id list is unbounded and collect_list would be the OOM the
    cap exists to prevent.
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    sh = df.select(F.col(id_col), F.explode(shingles_col(text, n)).alias("s"))
    # hash shingle strings to int64 before the shuffle: aggregations
    # and joins move 8-byte keys instead of ~25-byte strings (~1.4× at
    # sf0.1 and growing with shingle length). xxhash64 collisions
    # perturb a jaccard only when two distinct shingles of a compared
    # pair collide — ~n²/2⁶⁴, vanishing even at 100 TB shingle counts.
    sh = sh.select(id_col, F.xxhash64("s").alias("s"))
    with pinned(sh) if persist else nullcontext():
        if max_shingle_freq is not None:
            hot = (
                sh.groupBy("s")
                .agg(F.count(F.lit(1)).alias("_f"))
                .filter(F.col("_f") > max_shingle_freq)
                .select("s")
            )
            sh = sh.join(F.broadcast(hot), "s", "left_anti")
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        if max_shingle_freq is not None:
            # bounded-group pair generation: one full-volume shuffle (the
            # collect_list group-by) instead of two self-join sides; the
            # (id_a < id_b) instance combinations are built inside a
            # higher-order lambda (no per-row array duplication) and
            # exploded once — the same rows the equi-join emitted
            grp = sh.groupBy("s").agg(F.collect_list(F.col(id_col)).alias("_ids"))
            combos = F.expr(
                "flatten(transform(_ids, x ->"
                " transform(filter(_ids, y -> y > x), y ->"
                " named_struct('doc_a', x, 'doc_b', y))))"
            )
            inter = (
                grp.select(F.explode(combos).alias("_p"))
                .select("_p.doc_a", "_p.doc_b")
                .groupBy("doc_a", "doc_b")
                .agg(F.count(F.lit(1)).alias("i"))
            )
        else:
            a, b = sh.alias("a"), sh.alias("b")
            inter = (
                a.join(
                    b,
                    (F.col("a.s") == F.col("b.s"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                )
                .groupBy(
                    F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                )
                .agg(F.count(F.lit(1)).alias("i"))
            )
        sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
        sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
        pairs = (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
            )
            .filter(F.col("jaccard") >= threshold)
            # no rounding: i/na/nb are identical integers in any engine, and
            # IEEE double division of identical operands is bit-deterministic
            .select("doc_a", "doc_b", "jaccard")
        )
        return pairs.localCheckpoint(eager=True) if persist else pairs


def dup_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Cross-document duplicated-span coverage: for each document, the
    fraction of its distinct word n-gram shingles that also occur in at
    least one OTHER place in the corpus. High coverage flags
    boilerplate / templated / heavily-syndicated documents that exact
    and pairwise near-dup passes both miss (no single partner document
    is similar enough, but the text is corpus-wide commonplace) — the
    span-level signal behind "remove duplicated substrings" corpus
    cleaning.

    Scale shape: NO self-join — one corpus-frequency aggregation over
    int64-hashed shingles (map-combined) plus one hash join back to the
    per-doc shingle list, both shuffling on 8-byte keys. Cost is linear
    in total shingle count, so unlike pairwise Jaccard it needs no
    hot-shingle cap to stay bounded at 100 TB.

    ``persist=True`` (default) caches the shingle set — the frequency
    agg exchanges aggregated partials while the join side exchanges raw
    rows, so ReuseExchange cannot dedupe the two subtrees and the
    corpus would explode twice — then eagerly materializes the per-doc
    result while the shingles are pinned
    (:func:`~datawarehouse_spark.operators.pin.pinned`).
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text, n)).alias("s0")
    ).select(id_col, F.xxhash64("s0").alias("s"))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    out = (
        sh.join(freq, "s")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            F.col(id_col),
            F.col("n_shingles"),
            F.col("n_dup"),
            F.round(F.col("n_dup") / F.col("n_shingles"), 6).alias("dup_frac"),
        )
    )
    if persist:
        with pinned(sh):
            out = out.localCheckpoint(eager=True)
    return out


def dup_span_kept_ranges(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    min_df: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Duplicated-substring REMOVAL (the cleaning step behind
    :func:`dup_span_coverage`'s diagnostic): per document, emit the
    maximal token ranges that survive after dropping every span covered
    by a corpus-frequent word ``n``-gram (document frequency ≥
    ``min_df``) — "remove duplicated substrings" for boilerplate /
    template / syndicated text. Output: one row per kept range
    ``(id, span_start, span_end, n_kept)``, token positions 0-based
    inclusive; fully-duplicated documents emit no rows.

    Scale shape: strictly linear, NO self-join — positional shingles
    explode once, corpus document-frequency is one map-combined agg on
    int64-hashed shingles, frequent-span token positions fan out by at
    most ``n``, and the kept ranges come from one gaps-and-islands
    window partitioned by doc id. Every shuffle key is 8-16 bytes; no
    hot-key cap is needed because nothing is ever joined pairwise.

    ``persist=True`` (default) caches the positional shingle set — its
    two consumers (the frequency agg and the span join) otherwise each
    re-explode the corpus (their shuffle keys differ, so ReuseExchange
    cannot dedupe them) — then eagerly materializes the small
    kept-range result while the shingles are pinned
    (:func:`~datawarehouse_spark.operators.pin.pinned`).
    """
    from pyspark.sql import Window as W

    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    toks = F.split(F.col(text), " ")
    pos_shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos_sh = df.select(
        F.col(id_col), F.posexplode(pos_shingles).alias("pos", "sh0")
    ).select(id_col, "pos", F.xxhash64("sh0").alias("s"))
    # document frequency over DISTINCT per-doc shingles (a doc repeating
    # its own boilerplate doesn't make the shingle corpus-frequent)
    freq = (
        pos_sh.select(id_col, "s").distinct()
        .groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("s")
    )
    dup_pos = (
        pos_sh.join(freq, "s")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    all_pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("tpos", "_t")
    ).select(id_col, "tpos")
    kept = all_pos.join(dup_pos, [id_col, "tpos"], "left_anti")
    w = W.partitionBy(id_col).orderBy("tpos")
    grp = kept.withColumn("g", F.col("tpos") - F.row_number().over(w))
    spans = (
        grp.groupBy(id_col, "g")
        .agg(
            F.min("tpos").cast("bigint").alias("span_start"),
            F.max("tpos").cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .drop("g")
    )
    if persist:
        with pinned(pos_sh):
            spans = spans.localCheckpoint(eager=True)
    return spans


def exact_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_len: int = 50,
    persist: bool = True,
    impl: str = "md5",
) -> DataFrame:
    """EXACT duplicated-substring spans ≥ ``min_len`` tokens —
    the industry-standard exact corpus dedup of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed Spark-native. Their suffix-array machinery is a
    shared-memory construct; the distributed identity that replaces it:
    a token span of length ≥ L occurs twice in the corpus **iff** each
    of its length-L windows occurs at ≥ 2 (doc, pos) sites, so the
    union of duplicated L-windows IS the exact duplicated-substring
    coverage — no suffix order needed, only positional window
    fingerprints. (This finds a superset of whole-substring repeats —
    a position is covered when SOME length-L window through it
    repeats, which is precisely the "drop every duplicated span"
    cleaning rule of the paper.)

    Output: one row per MAXIMAL duplicated span —
    ``(id, span_start, span_end, span_len)``, token positions 0-based
    inclusive (the dual of :func:`dup_span_kept_ranges`, which emits
    the KEPT ranges of its shingle-approximate sibling). Documents
    with no duplicated span emit nothing; within-document repeats
    count (a doc repeating its own 50-token block is deduplicated,
    exactly as in the paper).

    Exactness: md5 over the joined window text — cross-engine
    deterministic (the fingerprint convention), collision odds
    ~n²/2¹²⁸. The shingle-approximate sibling flags positions covered
    by corpus-frequent n-grams (n=3) — commonplace PHRASES — while
    this flags only verbatim ≥L-token repeats; both exist because
    they answer different cleaning questions.

    Scale shape: strictly linear, NO self-join — the same
    frequency-agg + join-back shape as :func:`dup_span_coverage`.
    ``impl`` selects the window-fingerprint stage (the kmeans_assign
    gemm|sql precedent; both are property-tested span-identical):

    * ``impl="md5"`` (default, the oracle-parity twin): concatenate L
      tokens per position and md5 — an L× CPU constant per token,
      JVM-side, cross-engine replayable.
    * ``impl="rolling"`` (the 100 TB constant-factor path): one Arrow
      mapInPandas pass computes a Rabin-Karp rolling hash over FNV-1a
      token hashes — O(1) per window after the per-token pass instead
      of O(L), via vectorized uint64 wraparound arithmetic
      (H_i = (P_{i+L} − P_i)·B⁻ⁱ with P the B-weighted prefix sums;
      B odd ⇒ invertible mod 2⁶⁴). Only 16-hex-char digests leave the
      worker — the shuffle/agg shape downstream is unchanged.

    Interval merge is one per-doc gaps-and-islands window (bounded by
    document length, never global)."""
    if impl not in ("md5", "rolling"):
        raise ValueError(
            f"exact_dup_spans: impl must be 'md5' or 'rolling', got "
            f"{impl!r}"
        )
    sites_fn = _window_sites if impl == "md5" else _window_sites_rolling
    sites = sites_fn(df, id_col, text, min_len)
    # ≥2 SITES (doc, pos) — within-doc repeats are duplicates too
    dup_h = (
        sites.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    # merge overlapping windows: same length L ⇒ sorted starts chain
    # into one span iff the start step ≤ L (_merge_flagged_spans).
    # shuffle_hash-hint the dup-hash join: the duplicated-hash set
    # grows with the corpus (≈100k 32-char strings already at sf1 —
    # two member impls' broadcasts together exhaust the shared
    # local-mode heap, and at 100 TB it could never broadcast); SHJ
    # builds per-partition slices of it instead
    spans = _merge_flagged_spans(
        sites.join(dup_h.hint("shuffle_hash"), "h").select(id_col, "pos"),
        id_col, min_len,
    )
    if persist:
        # DISK_ONLY: the positional site table is corpus×windows-sized;
        # memory-caching it borrows unified memory from the frequency
        # agg it feeds (at sf1 the md5+rolling suite union OOM'd the
        # default heap through exactly that borrowing), and at 100 TB
        # it could never live in memory anyway
        with pinned(sites, StorageLevel.DISK_ONLY):
            spans = spans.localCheckpoint(eager=True)
    return spans


def _window_sites(df: DataFrame, id_col: str, text: str,
                  min_len: int) -> DataFrame:
    """(id, pos, h) positional L-window md5 sites — the unit of state
    for the exact-substring gates (the windowing half of
    :func:`exact_dup_spans`, factored out for the incremental form)."""
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    toks = F.split(F.col(text), " ")
    win = F.when(
        F.size(toks) >= min_len,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(min_len)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, min_len))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.posexplode(win).alias("pos", "h"))


def _window_sites_rolling(df: DataFrame, id_col: str, text: str,
                          min_len: int) -> DataFrame:
    """(id, pos, h) positional L-window sites via a Rabin-Karp rolling
    hash — the constant-factor twin of :func:`_window_sites` (md5 pays
    an O(L) concatenate+digest per position; this pays O(1) per window
    after one FNV-1a pass per token). One Arrow mapInPandas pass per
    partition, no shuffle: per document, token hashes t_j feed
    B-weighted prefix sums P_k = Σ_{j<k} t_j·Bʲ (uint64 wraparound ≡
    mod 2⁶⁴), and window i's canonical value is
    (P_{i+L} − P_i)·B⁻ⁱ = Σ_j t_{i+j}·Bʲ — position-independent, so
    equal windows hash equal everywhere. B is the (odd, hence
    invertible mod 2⁶⁴) FNV prime. Emitted as 16-hex-char strings so
    the output schema matches the md5 form exactly; collision odds
    ~n²/2⁶⁴ vs md5's n²/2¹²⁸ — the documented trade for dropping the
    L× constant at 100 TB. Span-level equality with the md5 impl is
    property-tested (tests/test_llm_ops.py) and the rolling registry
    entry hash-verifies against the md5-window DuckDB oracle."""
    import pandas as pd

    L = min_len
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, pos int, h string"
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    src = df.select(id_col, text)

    def gen(batches):
        import numpy as np

        MASK = (1 << 64) - 1
        FNV_OFF, FNV_P = 0xCBF29CE484222325, 0x100000001B3
        B = np.uint64(FNV_P)
        BINV = np.uint64(pow(FNV_P, -1, 1 << 64))
        cache: dict[str, int] = {}

        def tok_hash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = FNV_OFF
                for byte in tok.encode("utf-8"):
                    h = ((h ^ byte) * FNV_P) & MASK
                cache[tok] = h
            return h

        for pdf in batches:
            ids: list = []
            poss: list = []
            hs: list = []
            for rid, txt in zip(pdf[id_col], pdf[text]):
                toks = txt.split(" ")
                n = len(toks)
                if n < L:
                    continue
                t = np.array([tok_hash(x) for x in toks], dtype=np.uint64)
                pw = np.ones(n, dtype=np.uint64)
                if n > 1:
                    pw[1:] = np.cumprod(
                        np.full(n - 1, B, dtype=np.uint64))
                pref = np.zeros(n + 1, dtype=np.uint64)
                pref[1:] = np.cumsum(t * pw)
                m = n - L + 1
                inv = np.ones(m, dtype=np.uint64)
                if m > 1:
                    inv[1:] = np.cumprod(
                        np.full(m - 1, BINV, dtype=np.uint64))
                h = (pref[L:L + m] - pref[:m]) * inv
                ids.extend([rid] * m)
                poss.extend(range(m))
                hs.extend(f"{x:016x}" for x in h)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                "pos": pd.Series(poss, dtype="int32"),
                "h": pd.Series(hs, dtype="object"),
            })

    return src.mapInPandas(gen, schema=out_schema)


def _merge_flagged_spans(flagged: DataFrame, id_col: str,
                         min_len: int) -> DataFrame:
    """Merge flagged window-start positions into maximal token spans —
    the gaps-and-islands tail shared by :func:`exact_dup_spans` and
    the keep-first/incremental variants (same-length windows chain
    iff the start step ≤ L)."""
    w = W.partitionBy(id_col).orderBy("pos")
    starts = (
        flagged.withColumn(
            "_new",
            F.when(
                F.col("pos") - F.lag("pos", 1).over(w) <= F.lit(min_len),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        starts.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(min_len - 1)).cast("bigint")
            .alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def exact_span_increment(
    new: DataFrame,
    window_registry: DataFrame | None,
    id_col: str = "doc_id",
    text: str = "text",
    min_len: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of the STREAMING exact-substring dedup gate —
    the Lee et al. 2021 cleaning rule as an ingestion stream: a token
    position is flagged when some L-window through it was already seen
    at a strictly-earlier site (an earlier epoch's registry entry, or
    a smaller ``(doc_id, pos)`` within this batch), so the FIRST
    occurrence of every ≥L-token substring survives and every later
    verbatim copy is marked for removal. The keep-first-in-replay-order
    discipline is the same as the exact-fingerprint and near-dup band
    gates (streaming/corpus.py, :func:`near_dup_increment`), applied
    at substring granularity — the registry of distinct window hashes
    is the only state.

    Returns ``(spans, new_windows)``: the batch's maximal duplicated
    spans ``(id, span_start, span_end, span_len)`` (docs with nothing
    flagged emit no rows), and the distinct not-previously-registered
    window-hash rows ``(h)`` to append. ALL batch windows register
    (flagged ones too), so replay order within the registry never
    matters and the batch twin is one increment over the whole corpus
    with an empty registry (:func:`exact_dup_spans_keep_first`).

    Scale shape per batch: one window pass over the BATCH (linear ×
    the L hashing constant, md5 digests shuffle — never window text),
    one min-site groupBy over batch windows, one anti/semi join
    against the registry keyed on the 32-char hash, one per-doc
    interval-merge window — linear in the batch, never the corpus."""
    sites = _window_sites(new, id_col, text, min_len).localCheckpoint(
        eager=True
    )
    first = sites.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
        .alias("_f")
    )
    flags = sites.join(first, "h").withColumn(
        "_dup",
        (F.col(id_col) > F.col("_f.i"))
        | ((F.col(id_col) == F.col("_f.i")) & (F.col("pos") > F.col("_f.p"))),
    )
    if window_registry is not None:
        reg = window_registry.select("h").distinct()
        flags = flags.join(
            reg.withColumn("_seen", F.lit(1)), "h", "left"
        ).withColumn("_dup", F.col("_dup") | F.col("_seen").isNotNull())
    flagged = flags.filter(F.col("_dup")).select(id_col, "pos")
    spans = _merge_flagged_spans(flagged, id_col, min_len)
    new_windows = sites.select("h").distinct()
    if window_registry is not None:
        new_windows = new_windows.join(
            window_registry.select("h").distinct(), "h", "left_anti"
        )
    return spans, new_windows


def exact_dup_spans_keep_first(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_len: int = 50,
) -> DataFrame:
    """Batch twin of :func:`exact_span_increment` — the keep-first
    form of :func:`exact_dup_spans`: spans covering every occurrence
    EXCEPT the first (in (doc_id, pos) order) of each duplicated
    ≥L-token substring, i.e. exactly what the training-data cleaner
    deletes while :func:`exact_dup_spans` reports all duplicated
    material symmetrically. Literally one increment over the whole
    corpus with an empty registry — the flag rule lives in one place,
    so the stream and its differential oracle cannot desynchronize."""
    spans, _ = exact_span_increment(df, None, id_col, text, min_len)
    return spans


def incremental_dedup(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Incremental ingestion dedup — the nightly-batch production shape:
    test each NEW document against the EXISTING corpus without ever
    joining corpus × corpus. Work is O(|new| · avg-bucket), so a daily
    increment against a 100 TB corpus costs proportional to the
    increment, not the corpus.

    Exact duplicates: md5-fingerprint semi-join (16-byte keys). Near
    duplicates: shingle equi-join of the NEW side's shingles against the
    corpus side's only, exact Jaccard ≥ ``threshold`` per (new, corpus)
    pair, collapsed to one flag per new doc. ``max_shingle_freq`` caps
    hot shingles by their CORPUS document frequency (broadcast
    anti-join — same bound as :func:`ngram_jaccard_pairs`).

    Output: one row per new doc — (id, dup_exact, dup_near, keep).
    """
    # The new batch is increment-sized by contract; pin it once so its
    # four consumers (fingerprint semi-join, shingle sizes, shingle
    # intersection, final assembly) read the materialized increment
    # instead of re-running the caller's upstream plan per reference
    # (measured at sf0.1: the fixture's union'd batch was re-scanned 8×
    # — 32 parquet scans / 42 Exchange in the full plan). Lazy: the
    # checkpoint fuses with the first action.
    new = new.select(F.col(id_col), F.col(text)).localCheckpoint(eager=False)
    new_fp = new.select(F.col(id_col), F.md5(F.col(text)).alias("_fp"))
    corpus_fp = corpus.select(F.md5(F.col(text)).alias("_fp")).distinct()
    exact = (
        new_fp.join(corpus_fp, "_fp", "left_semi")
        .select(id_col)
        .withColumn("_de", F.lit(True))
    )

    def _sh(df: DataFrame) -> DataFrame:
        s = df.select(F.col(id_col), F.explode(shingles_col(text, n)).alias("s"))
        return s.select(id_col, F.xxhash64("s").alias("s"))

    shn, shc = _sh(new), _sh(corpus)
    # r15 (guide §2.4, the containment_pairs discipline): the CORPUS
    # shingle stream has three consumers — the hot-shingle frequency
    # agg, the per-doc sizes, and the intersection join's b-side — and
    # un-pinned each re-ran the corpus scan + explode + xxhash chain
    # (the CPU-heavy part of this operator; the increment side is tiny
    # by contract). DISK_ONLY: the stream is corpus-sized and must not
    # borrow unified memory from the joins it feeds. The hot-agg
    # broadcast materializes first and fills the cache; the anti-join
    # consumers read it.
    with pinned(shc, StorageLevel.DISK_ONLY):
        if max_shingle_freq is not None:
            # hot is bounded (shingles whose corpus frequency exceeds the
            # cap — the same table the broadcast holds anyway); pin it so
            # the two anti-joins share one corpus scan + aggregation
            # instead of each rebuilding it
            hot = (
                shc.groupBy("s")
                .agg(F.count(F.lit(1)).alias("_f"))
                .filter(F.col("_f") > max_shingle_freq)
                .select("s")
                .localCheckpoint(eager=False)
            )
            shn = shn.join(F.broadcast(hot), "s", "left_anti")
            shc = shc.join(F.broadcast(hot), "s", "left_anti")
        sizes_n = shn.groupBy(id_col).agg(F.count(F.lit(1)).alias("na"))
        sizes_c = shc.groupBy(id_col).agg(F.count(F.lit(1)).alias("nb"))
        inter = (
            shn.alias("a")
            .join(shc.alias("b"), F.col("a.s") == F.col("b.s"))
            .groupBy(
                F.col(f"a.{id_col}").alias("new_id"),
                F.col(f"b.{id_col}").alias("corpus_id"),
            )
            .agg(F.count(F.lit(1)).alias("i"))
        )
        near = (
            inter.join(sizes_n.withColumnRenamed(id_col, "new_id"), "new_id")
            .join(sizes_c.withColumnRenamed(id_col, "corpus_id"), "corpus_id")
            .withColumn(
                "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
            )
            .filter(F.col("jaccard") >= threshold)
            .groupBy("new_id")
            .agg(F.count(F.lit(1)).alias("n_near"))
            .withColumnRenamed("new_id", id_col)
        )
        out = (
            new.select(id_col)
            .join(exact, id_col, "left")
            .join(near, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("_de"), F.lit(False)).alias("dup_exact"),
                (F.coalesce(F.col("n_near"), F.lit(0)) > 0).alias("dup_near"),
            )
            .withColumn("keep", ~F.col("dup_exact") & ~F.col("dup_near"))
        )
        # increment-sized (one row per new doc) — cheap to pin, and it
        # lets the corpus-shingle cache drop deterministically
        return out.localCheckpoint(eager=True)


def simhash64(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """63-bit SimHash per document via an Arrow-vectorized pandas UDF.

    Per token: md5 → 64 bits; bit positions vote ±1 weighted by token
    frequency; the sign vector is the fingerprint (top bit dropped to
    stay in signed int64). Near-dup docs differ in few bits — pair
    finding is then a Hamming-ball bucket join on bit-slices.

    The slow path is justified here: a 64-position bit-vote has no
    reasonable built-in expression form, and the Arrow batch transfer
    amortizes (SURVEY §2.10 X3). Inside the UDF everything is numpy
    bit-matrix arithmetic: tokens are deduped per batch (md5 runs once
    per distinct token, not per occurrence), unpacked to a (tokens × 63)
    bit matrix, and votes accumulate per document via a single
    ``np.add.at`` — no per-token Python loop over bit positions.

    The input is widened first (:func:`widen_narrow_input`): the UDF
    is the most expensive per-row map in the package, and a
    single-split source would otherwise run it on one core (measured
    11.4 s → 1.5 s at sf0.1 / local[32]; identity at real scale).
    """
    import hashlib

    df = widen_narrow_input(df)

    import numpy as np
    from pyspark.sql.types import LongType

    weights = (np.uint64(1) << np.arange(63, dtype=np.uint64)).astype(np.int64)

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        # flatten the batch to (row_idx, token) pairs
        tok_lists = [(t or "").split(" ") for t in texts]
        n_rows = len(tok_lists)
        if n_rows == 0:
            return pd.Series([], dtype="int64")
        row_idx = np.repeat(
            np.arange(n_rows), [len(ts) for ts in tok_lists]
        )
        all_toks = np.array(
            [tok for ts in tok_lists for tok in ts], dtype=object
        )
        # md5 once per distinct token (fixture vocabularies repeat
        # heavily; real corpora still dedupe well within a batch)
        uniq, inv = np.unique(all_toks, return_inverse=True)
        hashes = np.fromiter(
            (
                int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                & ((1 << 63) - 1)
                for t in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        # (distinct tokens × 63) sign matrix: +1 where bit set, else -1
        bits = (
            (hashes[:, None] >> np.arange(63, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.int8)
        signs = (2 * bits - 1).astype(np.int32)
        votes = np.zeros((n_rows, 63), dtype=np.int32)
        # accumulate in slices: signs[inv] expands to (occurrences × 63)
        # int32 — bound the transient to ~63 MB however dense the batch
        chunk = 250_000
        for lo in range(0, len(row_idx), chunk):
            hi = lo + chunk
            np.add.at(votes, row_idx[lo:hi], signs[inv[lo:hi]])
        sigs = ((votes > 0).astype(np.int64) * weights).sum(axis=1)
        return pd.Series(sigs, dtype="int64")

    # guide §4.4: without this, a downstream filter on the signature
    # (e.g. the implicit isnotnull from an equi-join on a derived
    # column) is pushed below the widen exchange and the optimizer
    # re-evaluates the UDF under it — the plan grows a second
    # ArrowEvalPython per consumer chain. The function is pure; the
    # marking only stops the optimizer duplicating it.
    _simhash = _simhash.asNondeterministic()

    return df.select(id_col, _simhash(F.col(text)).alias("simhash"))


def dedup_clusters(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b",
                   max_iter: int = 20) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components via
    min-label propagation **with pointer jumping** →
    ``(doc_id, canonical_id)`` where canonical_id is the component's
    minimum doc id (the "keep" doc).

    The missing last mile of a dedup pipeline — the reference's
    keep-min-ROWID dedupe (docs/sql规范.md:21-24) generalized from exact
    groups to fuzzy-pair graphs. Each iteration does (1) one
    shuffle-join of the label table with the edge set (labels move one
    hop) and (2) one self-join of the label table
    (``lbl ← label(lbl)``, path-halving), so convergence is
    O(log diameter) — the standard large-graph connected-components
    recipe (cf. large-star/small-star), which makes even 100 TB
    template-chain corpora converge in ≲20 rounds. Lineage is truncated
    with localCheckpoint so the plan doesn't grow across iterations.

    Raises ``RuntimeError`` if labels are still moving after
    ``max_iter`` rounds — an unconverged exit would silently hand
    non-canonical ids to the keep-list anti-join downstream.

    Deterministic, so oracle-checkable via a recursive
    transitive-closure CTE.
    """
    # materialize the pair list ONCE: it feeds both directions of the
    # edge union, so without this the (expensive) upstream plan — e.g.
    # the shingle self-join — would execute twice. The pair list is tiny
    # relative to the corpus even at 100 TB input.
    p = pairs.select(F.col(a).alias("_pa"), F.col(b).alias("_pb"))
    p = p.localCheckpoint(eager=True)
    edges = p.select(
        F.col("_pa").alias("src"), F.col("_pb").alias("dst")
    ).union(p.select(F.col("_pb").alias("src"), F.col("_pa").alias("dst")))
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nbr_min").alias("lbl"),
        )
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # (1) propagation: candidate label = min over neighbours' labels
        prop = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = labels.join(
            prop, labels["doc_id"] == prop["src"], "left"
        ).select(
            labels["doc_id"],
            labels["lbl"].alias("lbl0"),
            F.least(labels["lbl"], F.coalesce("nbr_lbl", labels["lbl"])).alias("lbl"),
        )
        # (2) pointer jumping: lbl ← label(lbl). Labels only decrease
        # (every lbl is a node id present in the table), so each pass
        # halves the remaining path length — O(log d) total rounds.
        hop = stepped.select(F.col("doc_id").alias("_k"), F.col("lbl").alias("_v"))
        nxt = (
            stepped.join(hop, stepped["lbl"] == hop["_k"], "left")
            .select(
                stepped["doc_id"],
                F.least(stepped["lbl"], F.coalesce("_v", stepped["lbl"])).alias("lbl"),
                (F.least(stepped["lbl"], F.coalesce("_v", stepped["lbl"]))
                 < stepped["lbl0"]).alias("_chg"),
            )
        ).localCheckpoint(eager=False)
        # the convergence aggregate is the materializing action for the
        # lazy checkpoint (r14, guide §1.2): one job per round instead
        # of an eager-checkpoint job plus an agg job — same joins, same
        # shuffles, half the driver round-trips
        changed = nxt.agg(F.sum(F.col("_chg").cast("int"))).first()[0] or 0
        labels = nxt.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iter={max_iter} "
            "rounds; canonical ids would be unreliable. Raise max_iter "
            "(rounds needed grow ~log2 of component diameter)."
        )
    return labels.select("doc_id", F.col("lbl").alias("canonical_id"))


def simhash_near_dup(sim: DataFrame, id_col: str = "doc_id",
                     sig_col: str = "simhash", max_hamming: int = 8,
                     n_slices: int = 9) -> DataFrame:
    """SimHash near-dup pairs via bit-slice bucketing + exact Hamming
    verify — the fingerprint counterpart of MinHash-LSH banding.

    Pigeonhole: two 63-bit signatures within Hamming distance
    ``max_hamming`` share at least one of ``n_slices`` slices whenever
    n_slices > max_hamming, so the candidate join is a hash join on
    (slice_idx, slice_bits) — O(Σ bucket²), never O(n²). Candidates are
    then verified exactly with bit_count(xor) — all JVM expressions.
    """
    # Slices must PARTITION bits 0..62 exactly. Deriving offsets as
    # i*width for i in range(n_slices) has two silent failure modes:
    # an offset landing ON bit 63 yields a slice of the always-zero
    # sign bit — every signature shares that bucket and the join
    # degenerates to the O(n²) product this op exists to avoid (e.g.
    # n_slices=10 → width 7 → offset 63); and offsets ≥ 64 wrap (JVM
    # shifts are mod 64), aliasing earlier slices and BREAKING the
    # pigeonhole recall bound (e.g. n_slices=43 → width 2 → offset 84
    # ≡ 20). So: width = ceil(63/n_slices), offsets = range(0,63,width)
    # — never degenerate, never wrapping — and the pigeonhole guard
    # checks the EFFECTIVE slice count (which caps at ceil(63/width),
    # possibly below the requested n_slices).
    width = -(-63 // n_slices)
    offsets = list(range(0, 63, width))
    if len(offsets) <= max_hamming:
        raise ValueError(
            f"n_slices={n_slices} yields only {len(offsets)} distinct "
            f"slices over 63 bits; pigeonhole recall needs more than "
            f"max_hamming={max_hamming}"
        )
    # materialize the signature table ONCE: it feeds BOTH sides of the
    # bucket self-join, and the broadcast build side would otherwise
    # re-run the whole upstream plan — for a simhash input that is a
    # second full pass of the most expensive UDF in the package
    # (guide §3.3 self-join reuse; the dedup_clusters precedent). The
    # checkpoint is per-doc (id, 8-byte signature) — bounded at any
    # corpus scale.
    sim = sim.select(id_col, sig_col).localCheckpoint(eager=True)
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("slice_idx"),
                F.shiftrightunsigned(F.col(sig_col), off)
                .bitwiseAND(F.lit((1 << min(width, 63 - off)) - 1))
                .alias("slice_bits"),
            )
            for i, off in enumerate(offsets)
        ]
    )
    ex = sim.select(id_col, sig_col, F.explode(slices).alias("sl")).select(
        id_col, sig_col, "sl.slice_idx", "sl.slice_bits"
    )
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.slice_idx") == F.col("b.slice_idx"))
            & (F.col("a.slice_bits") == F.col("b.slice_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs shingle Jaccard ≥ threshold via PREFIX FILTERING
    (PPJoin family — Chaudhuri et al. SSJoin/ICDE'06, Bayardo et al.
    All-Pairs/WWW'07, Xiao et al. PPJoin/WWW'08): order every document's
    shingle set by ascending global document frequency (rarest first)
    and join only on each set's PREFIX — the first
    |A| - ceil(t·|A|) + 1 shingles. The filter is LOSSLESS: if
    Jaccard(A,B) ≥ t then |A∩B| ≥ ceil(t·max(|A|,|B|)), and the
    smallest (in the global order) common shingle provably falls inside
    BOTH prefixes, so every qualifying pair shares a prefix shingle.
    Result is therefore identical to the naive all-pairs join — unlike
    ngram_jaccard_pairs' frequency cap, which trades exactness for the
    fan-out bound. This is the scale path when the answer must be
    exact: candidate volume collapses because prefixes hold the RAREST
    shingles (df-ascending order), precisely the keys with the least
    join fan-out; the hot stopword-run shingles land at the back of
    every set and never reach the join.

    A size-ratio prune (|B| ≥ t·|A|, a Jaccard necessary condition)
    drops cross-size candidates before verification; verification
    rejoins the two per-doc shingle arrays and intersects IN-ROW
    (array_intersect — no second exploded self-join).

    Scale shape: one explode + map-combined df count, one frequency
    join back (shuffle on shingle hash), one per-doc sort_array
    (in-row, bounded by doc length), one prefix self-join on the
    rare-shingle key, then two id-keyed joins of the (small) candidate
    set against per-doc arrays. Shingles are int64-hashed before any
    shuffle (same ~n²/2⁶⁴ collision trade as ngram_jaccard_pairs).
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text, n)).alias("s")
    ).select(id_col, F.xxhash64("s").alias("s"))
    # the exploded table feeds the df count AND the frequency join —
    # pinning it (at the checkpoint below) skips one full explode+hash
    # pass (measured 36% off the whole operator at sf0.1)
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    # per-doc shingle list ordered rarest-first: sort_array over
    # struct(c, s) sorts by frequency then shingle hash — a total
    # order shared by every document, as prefix filtering requires
    docs = (
        sh.join(freq, "s")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("c", "s"))).alias("arr"),
        )
        .select(
            F.col(id_col),
            F.transform("arr", lambda x: x["s"]).alias("arr"),
            F.size("arr").alias("n_sh"),
        )
    )
    # three consumers (prefix explode + both verify sides) — the
    # per-doc arrays are pinned alongside the shingles below
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    pref = docs.select(
        F.col(id_col),
        F.col("n_sh"),
        F.explode(F.slice("arr", 1, prefix_len.cast("int"))).alias("s"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size-ratio prune: J ≥ t forces min ≥ t·max
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= F.lit(threshold) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    da = docs.select(F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a"),
                     F.col("n_sh").alias("n_a"))
    db = docs.select(F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"),
                     F.col("n_sh").alias("n_b"))
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        # no rounding: single IEEE division of identical integers is
        # bit-deterministic in any engine (same as ngram_jaccard_pairs)
        .select("doc_a", "doc_b",
                F.col("n_a").cast("bigint").alias("n_a"),
                F.col("n_b").cast("bigint").alias("n_b"),
                F.col("inter").cast("bigint").alias("inter"),
                "jaccard")
    )
    with pinned(sh), pinned(docs):
        return verified.localCheckpoint(eager=True)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    window: int = 4,
    n_blocks: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95, the
    merge/purge method): sort the corpus on a blocking key (here the
    raw text, so near-identical documents become neighbors), slide a
    window of ``window`` rows down the sorted order, and emit every
    in-window pair with its exact shingle Jaccard. The classic
    complement to hash blocking (LSH/SimHash buckets): it catches
    prefix-preserving edits that land in different hash buckets, and
    its candidate count is exactly (window-1)·n — linear by
    construction, no hot-bucket blowup possible.

    Scale shape — a distributed global sort WITHOUT a single-partition
    window: repartitionByRange on (key, id) gives a partition-wise
    total order (the composite key is unique, so the order — and
    therefore every emitted pair — is invariant to where the sampled
    range boundaries fall); per-block row_number plus a broadcast
    cumulative-offset table (block count rows, the zipWithIndex
    strategy in DataFrame form) yields the GLOBAL rank
    (operators/rank.py::global_rank — n_blocks auto-sizes to the
    session's shuffle parallelism when omitted); neighbor pairs
    are then an equi-join of rank+gap against rank — every stage is
    partition-parallel, and the only driver-sized object is the
    n_blocks-row offset table. Verification is in-row
    (array_intersect on the two carried shingle arrays — no exploded
    self-join). Shingles stay STRINGS here: per-row arrays never
    shuffle on shingle keys, so there is nothing to compact (and the
    oracle's list_intersect then matches byte-for-byte).
    """
    if window <= 1:
        # window=1 means "no neighbors"; guard explicitly because
        # F.sequence(1, window-1) with window=1 builds sequence(1, 0),
        # which Spark evaluates with an implicit -1 step as [1, 0] —
        # emitting gap-0 self-pairs instead of nothing.
        raise ValueError(
            f"sorted_neighborhood_pairs needs window >= 2, got {window}"
        )
    from datawarehouse_spark.operators.rank import global_rank

    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    base = df.select(F.col(id_col), F.col(text).alias("k"))
    # keep=[id]: the rank checkpoint materializes (id, _mid) ONLY —
    # the sort consumes the text before the checkpoint, and the
    # shingle arrays never enter it. Through r13 the checkpoint held
    # text + arrays as deserialized JVM objects, and that resident
    # ballast is what OOM'd the suite_pair_blocking sf1 union at the
    # default heap while each member passed alone (SCALE.md r13).
    ranks = global_rank(
        base, [F.asc("k"), F.asc(id_col)], n_blocks=n_blocks,
        rank_col="grn", keep=[id_col],
    )
    # payload rejoin by key: the shingle build is a cheap JVM-side
    # string op recomputed per consumer, and the join shuffles it
    # once per side — spillable, unlike a memory checkpoint
    payload = df.select(
        F.col(id_col), shingles_col(text, n).alias("arr")
    )
    # shuffle_hash-hint: the payload side carries shingle arrays —
    # broadcasting it would rebuild the very driver-memory ballast the
    # slim checkpoint just removed, and sort-merge would sort
    # array-carrying rows; SHJ builds tiny per-partition doc slices
    g = ranks.join(payload.hint("shuffle_hash"), id_col).select(
        F.col(id_col),
        "arr",
        "grn",
        F.size("arr").alias("n_sh"),
    )
    gaps = F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("gap")
    left = g.select(
        F.col(id_col).alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("n_a"),
        F.col("grn"),
        gaps,
    ).withColumn("nbr", F.col("grn") + F.col("gap"))
    right = g.select(
        F.col(id_col).alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_sh").alias("n_b"),
        F.col("grn").alias("nbr"),
    )
    pairs = (
        left.join(right, "nbr")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .select(
            "doc_a",
            "doc_b",
            F.col("gap").cast("bigint").alias("gap"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("inter").cast("bigint").alias("inter"),
            # exact: one IEEE division of identical integers
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
            .alias("jaccard"),
        )
    )
    return pairs


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Directed shingle CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥
    threshold — the asymmetric near-dup relation Jaccard cannot see.
    A short document quoted verbatim inside a much longer one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so symmetric dedup
    keeps both; quote/subset detection (boilerplate inclusions,
    embedded licenses, copy-pasted passages) filters on containment.
    Emits ordered (doc_a ⊆-ish doc_b) rows: containment of a IN b.

    Scale shape (r14 — the prefix-filtered lossless variant SCALE.md
    previously only documented): C(A→B) ≥ t needs |A∩B| ≥ ⌈t·|A|⌉, so
    if NONE of the p = |A| − ⌊t·|A|⌋ + 1 rarest shingles of A appear
    in B, the shared count is at most |A| − p < ⌈t·|A|⌉ — the pair is
    impossible. (For the DIRECTED relation any p-subset of A works;
    ranking by ascending global document frequency is the performance
    choice — rare shingles nominate few candidates. The +1 over the
    tight ⌈⌉ bound absorbs any float rounding of t·|A|, strictly on
    the safe side.) Nomination therefore joins only A-prefix rows
    against all of B (~(1−t)× the exploded volume); verification is
    IN-ROW ``array_intersect`` over the two capped per-doc shingle
    arrays — the r13 count-aggregation over every shared-shingle join
    row (the suite's sf1 heap breaker: its spill-merge readers OOM'd
    the default local[16] heap) no longer exists. Per-doc arrays are
    document-length-bounded rows, never partition-sized state; the
    same ``max_shingle_freq`` anti-join cap bounds hot-shingle
    fan-out before anything else runs.
    """
    from pyspark.sql import Window as W

    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text, n)).alias("s")
    ).select(id_col, F.xxhash64("s").alias("s"))
    # DISK_ONLY: the exploded shingle table is shuffle-sized, and
    # memory-caching it borrows unified memory from the joins it
    # feeds; at 100 TB this intermediate could never live in memory
    with pinned(sh, StorageLevel.DISK_ONLY):
        if max_shingle_freq is not None:
            hot = (
                sh.groupBy("s").agg(F.count(F.lit(1)).alias("_f"))
                .filter(F.col("_f") > max_shingle_freq).select("s")
            )
            sh = sh.join(F.broadcast(hot), "s", "left_anti")
        # per-doc capped shingle arrays: the verify side (and n_sh sizes).
        # r15 (guide §2.4 — don't recompute what you can pin): BOTH verify
        # joins consume this table (aa and bb below), and without a pin
        # each side re-runs the collect_list shuffle from the shingle
        # cache — measured 2 × ~1.2 s at sf0.1, and at 100 TB two full
        # extra passes over the exploded shingle stream. DISK_ONLY for the
        # same reason as the shingle cache (it is corpus-sized and must
        # not borrow unified memory from the verify joins); the count()
        # forces materialization exactly once — its two consumers are
        # INDEPENDENT AQE stages, so a lazy persist would let them race to
        # recompute the shuffle before the cache fills (the
        # triangle_stats lesson).
        arrs = sh.groupBy(id_col).agg(
            F.collect_list("s").alias("arr"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        with pinned(arrs, StorageLevel.DISK_ONLY):
            arrs.count()
            # A-side prefix: rank each doc's shingles rarest-first by global
            # (capped) document frequency; keep rank ≤ n_sh − ⌊t·n_sh⌋ + 1
            freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
            w = W.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("s"))
            # shuffle_hash-hint: freq is corpus-vocabulary-sized (one row per
            # distinct shingle) — broadcastable at toy SFs only (at 100 TB the
            # vocabulary is nowhere near broadcast-sized, and at sf1 building
            # the broadcast exhausts the shared local-mode heap), and its
            # per-partition hash slices are a few KB, so SHJ beats sorting the
            # exploded shingle table
            prefix = (
                sh.join(freq.hint("shuffle_hash"), "s")
                .withColumn("_rn", F.row_number().over(w))
                .withColumn("_n", F.count(F.lit(1)).over(W.partitionBy(id_col)))
                .filter(
                    F.col("_rn")
                    <= F.col("_n") - F.floor(F.lit(threshold) * F.col("_n")) + 1
                )
                .select(F.col(id_col).alias("doc_a"), "s")
            )
            # nomination: A-prefix rows against ALL of B, SHJ for the same
            # reason as above (per-partition build slices of the exploded
            # table are small; no sort of 2.6M-row streams)
            cand = (
                prefix.join(
                    sh.select(F.col(id_col).alias("doc_b"), "s").hint(
                        "shuffle_hash"
                    ),
                    "s",
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct()
            )
            aa = arrs.select(
                F.col(id_col).alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n_sh").alias("n_a"),
            )
            bb = arrs.select(
                F.col(id_col).alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n_sh").alias("n_b"),
            )
            # shuffle_hash-hint the verify joins, for two reasons: (a) the
            # build side carries per-doc shingle ARRAYS — letting the planner
            # broadcast it OOMs the shared local-mode heap at sf1, and a
            # 100 TB corpus's array table could never broadcast; (b) sort-merge
            # would SORT probe rows that carry a 400-byte array through the
            # second join's exchange (1.3 GB of sort spill at sf1 → the
            # spill-merge read buffers are exactly what OOM'd the default
            # heap). A shuffled hash join builds only the per-partition slice
            # of the doc-count-sized array table (KBs) and streams the probe
            # side UNSORTED — no sorter ever holds array rows.
            pairs = (
                cand.join(aa.hint("shuffle_hash"), "doc_a")
                .join(bb.hint("shuffle_hash"), "doc_b")
                .withColumn(
                    "i", F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint")
                )
                .withColumn("containment", F.col("i") / F.col("n_a"))
                .filter(F.col("containment") >= threshold)
                # exact: single IEEE division of identical integers
                .select("doc_a", "doc_b",
                        F.col("n_a").cast("bigint").alias("n_a"),
                        F.col("n_b").cast("bigint").alias("n_b"),
                        F.col("i").alias("inter"),
                        "containment")
            )
            return pairs.localCheckpoint(eager=True)


def novelty_scores(df: DataFrame, id_col: str = "doc_id",
                   text: str = "text", n: int = 3) -> DataFrame:
    """Temporal novelty: the fraction of a document's distinct
    ``n``-shingles whose corpus-wide FIRST occurrence (min id — ids are
    the ingestion order) is this document — the forward-looking twin of
    dup-span coverage (which asks "seen anywhere", this asks "seen
    before me"). High-novelty documents carry new content; a
    near-zero score marks late re-crawls and syndicated copy even when
    no single pairwise near-dup exists.

    Scale shape (same as dup_span_coverage — strictly linear): one
    map-combined min-agg on the shingle key, one hash join back, one
    per-doc agg. No self-join anywhere, so no hot-shingle cap needed.
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text, n)).alias("s")
    )
    first = sh.groupBy("s").agg(F.min(id_col).alias("first_doc"))
    return (
        sh.join(first, "s")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_sh"), 6)
        )
    )


def cc_keep_best(clusters: DataFrame, quality: DataFrame,
                 id_col: str = "doc_id",
                 score_col: str = "score") -> DataFrame:
    """Quality-aware canonical selection over NEAR-dup clusters — the
    fuzzy-graph twin of the exact-group keep-best rule: within each
    connected component from :func:`dedup_clusters`, keep the member
    with the highest ``score_col`` (min-id tiebreak) instead of the
    arbitrary min-id canonical. Real pipelines keep the best crawl of
    a syndicated article, not the first-seen one.

    ``clusters`` is ``(doc_id, canonical_id)``; ``quality`` is
    ``(doc_id, score)`` — any per-doc metric (length, LM perplexity,
    quality-classifier output). Docs absent from ``clusters`` are
    singletons and implicitly kept by the caller's anti-join.

    Scale shape: one join on the doc id plus one window keyed on the
    component id the CC resolution already produced — no new shuffle
    key, no pair table revisit.
    """
    from pyspark.sql import Window as W

    j = clusters.join(
        quality.select(F.col(id_col), F.col(score_col)), id_col
    )
    w = W.partitionBy("canonical_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        j.withColumn("keep_id", F.first(F.col(id_col)).over(w))
        .withColumn("keep", F.col(id_col) == F.col("keep_id"))
    )


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text: str = "text") -> DataFrame:
    """Corpus version diff — the dataset-curation twin of the snapshot
    store's time travel (sources/snapshot.py): given two corpus
    versions, label every document ``added`` / ``removed`` /
    ``changed`` / ``unchanged``. The audit artifact between crawl
    refreshes: what a retrain actually ingests differently.

    Scale shape: each side is reduced to (id, md5) BEFORE the join —
    16-byte fingerprints instead of document text — then ONE full-outer
    shuffle on the id. No text ever shuffles; at 100 TB the join is
    two column-pruned scans plus an id-keyed exchange, and on bucketed
    or snapshot-manifest layouts the exchange drops too.

    NULL-text handling: presence is decided by explicit row markers,
    NOT fingerprint nullness — ``md5(NULL)`` is NULL, so a NULL-text
    document present in both versions must not masquerade as
    added/removed. Such a doc compares fingerprints as SQL equality
    (NULL = NULL is not true) and is labeled ``changed`` — the
    conservative re-ingest call, and exactly what the SQL oracle's
    ``CASE WHEN old_fp = new_fp`` computes.
    """
    o = old.select(
        F.col(id_col), F.md5(F.col(text)).alias("old_fp"),
        F.lit(1).alias("_in_old"),
    )
    nw = new.select(
        F.col(id_col), F.md5(F.col(text)).alias("new_fp"),
        F.lit(1).alias("_in_new"),
    )
    j = o.join(nw, id_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"),
                    "old_fp", "new_fp")


def _blocks_col(text: str, block_words: int, unit: str):
    """Array-of-blocks column shared by :func:`_block_table` and
    :func:`_reassemble_blocks` — ``unit="words"`` slices the token
    array into consecutive non-overlapping ``block_words``-word
    windows (the tail block may be shorter; the fixtures' text is a
    flat word stream, so the fixed window IS the paragraph boundary);
    ``unit="lines"`` splits on real newlines (the CCNet/FineWeb
    paragraph boundary on real corpora — ``block_words`` is ignored).
    Both are whole-stage-codegen array arithmetic, zero shuffles."""
    if unit == "lines":
        return F.split(F.col(text), "\n")
    if unit != "words":
        raise ValueError(f"unit must be 'words' or 'lines', got {unit!r}")
    if block_words < 1:
        raise ValueError(f"block_words must be >= 1, got {block_words}")
    k = block_words
    toks = tokens_col(text)
    n_blocks = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_blocks - F.lit(1)),
        lambda b: F.concat_ws(" ", F.slice(toks, b * k + 1, k)),
    )


def _block_table(df: DataFrame, id_col: str, text: str,
                 block_words: int, extra: list[str],
                 unit: str = "words") -> DataFrame:
    """Explode each document into one row per ``(id, block index,
    block text)`` — the shared paragraph-granularity front end of
    :func:`paragraph_dedup` and :func:`boilerplate_block_removal`.
    Block boundary per :func:`_blocks_col` (word windows on the
    newline-free fixtures, real ``\\n`` paragraphs with
    ``unit="lines"`` — parity over both proven in
    tests/test_llm_ops.py::test_paragraph_ops_newline_unit).

    Zero shuffles: one projection with a generator. The input is
    widened first (guide §2.5) so the block explode + md5 hashing
    downstream never run on a single input split's worth of cores.
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    return df.select(
        F.col(id_col), *[F.col(c) for c in extra],
        F.posexplode(_blocks_col(text, block_words, unit)).alias("b", "btxt"),
    )


def _reassemble_blocks(df: DataFrame, kept: DataFrame, id_col: str,
                       text: str, block_words: int,
                       extra: list[str], unit: str = "words") -> DataFrame:
    """Stitch surviving ``(id, b, btxt)`` block rows back into one row
    per document ``(id, *extra, n_blocks, n_kept, clean_text)`` — the
    shared back end of the paragraph-granularity cleaners. One
    id-keyed rollup (``array_sort`` of (pos, text) structs, no per-doc
    window) plus one join back to the full document list so documents
    losing every block keep a row with ``n_kept = 0``. Blocks rejoin
    with the boundary they were split on (space for word windows,
    newline for ``unit="lines"``).
    """
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "btxt"))),
                lambda x: x["btxt"],
            ),
            "\n" if unit == "lines" else " ",
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col), *[F.col(c) for c in extra],
        F.size(_blocks_col(text, block_words, unit))
        .cast("bigint").alias("n_blocks"),
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col), *[F.col(c) for c in extra], F.col("n_blocks"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint")
        .alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    block_words: int = 8,
    persist: bool = True,
    unit: str = "words",
) -> DataFrame:
    """Paragraph-granular exact dedup with document reassembly — the
    CCNet/Dolma cleaning step: every duplicated paragraph (here: a
    ``block_words``-word block; the fixtures have no newlines) is
    removed EXCEPT its first occurrence in corpus order, then each
    document's surviving blocks are stitched back together. Unlike
    :func:`dup_span_kept_ranges` (which drops corpus-frequent spans
    from every document), this keeps exactly one canonical copy of
    each repeated paragraph, so corpus-wide information is preserved
    while redundancy is removed. Output: one row per document
    ``(id, n_blocks, n_kept, clean_text)``; a fully-deduplicated
    document keeps the row with ``n_kept = 0`` and empty text.

    Scale shape: NO pair join. Blocks explode once; the canonical
    occurrence per block text is one map-combined ``min(struct(id,
    pos))`` aggregation keyed on the block's xxhash64 (8-byte shuffle
    keys — block text itself never shuffles into the agg); keepers
    come back via one hash join on the same key, and reassembly is
    one id-keyed rollup (``array_sort`` of (pos, text) structs —
    no per-doc window). Cost is linear in corpus token count.

    ``persist=True`` caches the exploded block table — its two
    consumers (the canonical agg and the keeper join) exchange
    different shapes, so ReuseExchange cannot dedupe the explode —
    then eagerly materializes the per-doc result while the blocks are
    pinned (:func:`~datawarehouse_spark.operators.pin.pinned`).
    """
    blocks = _block_table(df, id_col, text, block_words, [], unit) \
        .withColumn("s", F.xxhash64("btxt"))
    canon = blocks.groupBy("s").agg(
        F.min(F.struct(F.col(id_col), F.col("b"))).alias("first")
    )
    kept = (
        blocks.join(canon, "s")
        .filter(
            (F.col(f"first.{id_col}") == F.col(id_col))
            & (F.col("first.b") == F.col("b"))
        )
    )
    out = _reassemble_blocks(df, kept, id_col, text, block_words, [],
                             unit)
    if persist:
        with pinned(blocks):
            out = out.localCheckpoint(eager=True)
    return out


def boilerplate_block_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    group_col: str = "source",
    block_words: int = 8,
    min_df: int = 2,
    persist: bool = True,
    unit: str = "words",
) -> DataFrame:
    """Per-source boilerplate removal — the CCNet/FineWeb line-dedup
    filter: a block (``block_words``-word window; see
    :func:`_block_table`) that appears in ``min_df`` or more DISTINCT
    documents of the SAME source is boilerplate (nav bars, license
    headers, templated footers) and every occurrence is dropped —
    unlike :func:`paragraph_dedup`, no canonical copy survives,
    because template text carries no information. Output: one row per
    document ``(id, group, n_blocks, n_kept, clean_text)``.

    Scale shape: linear, NO pair join. One explode; the per-source
    document frequency is a map-combined count over DISTINCT
    ``(group, block-hash, id)`` rows (8-byte block keys); removal is
    one left-anti hash join on ``(group, hash)``; reassembly is one
    id-keyed rollup. The frequent-block table is tiny (boilerplate is
    by definition a small set of hot strings), so at 100 TB the anti
    join broadcasts.

    ``persist=True``: same two-consumer cache contract as
    :func:`paragraph_dedup`.
    """
    if min_df < 2:
        # min_df=1 would classify EVERY block as boilerplate (every
        # block trivially occurs in >= 1 document) and silently blank
        # the whole corpus — reject rather than obey
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    blocks = _block_table(df, id_col, text, block_words, [group_col],
                          unit) \
        .withColumn("s", F.xxhash64("btxt"))
    freq = (
        blocks.select(group_col, "s", id_col).distinct()
        .groupBy(group_col, "s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select(group_col, "s")
    )
    kept = blocks.join(freq, [group_col, "s"], "left_anti")
    out = _reassemble_blocks(
        df, kept, id_col, text, block_words, [group_col], unit
    )
    if persist:
        with pinned(blocks):
            out = out.localCheckpoint(eager=True)
    return out


def paragraph_dedup_increment(
    new: DataFrame,
    seen_blocks: DataFrame | None,
    id_col: str = "doc_id",
    text: str = "text",
    block_words: int = 8,
    unit: str = "words",
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step of STREAMING paragraph dedup — the
    ingestion-time twin of :func:`paragraph_dedup` (same pattern as
    :func:`incremental_dedup` for document-level dedup): blocks
    already registered by earlier batches (``seen_blocks``, one
    ``s`` int64 column) are dropped from every new document, blocks
    repeated WITHIN the batch keep only their smallest ``(id, pos)``
    occurrence, and the surviving blocks are stitched back per
    document. Returns ``(cleaned, new_blocks)``: the per-document
    output for this batch, and the distinct not-previously-seen block
    hashes the caller appends to the registry. Replaying a corpus in
    id order through this step batch-by-batch reproduces the batch
    operator's output EXACTLY (differential-tested in
    tests/test_streaming.py).

    Scale shape per batch: cost is linear in the BATCH (one explode,
    one map-combined min-struct agg, one anti join against the
    registry — at 100 TB the registry lives in the state store /
    snapshot table and the anti join is the only corpus-sized touch,
    keyed on 8-byte hashes).

    Production recipe (exactly-once under foreachBatch replay, proven
    with a mid-stream kill in tests/test_streaming.py::
    test_streaming_paragraph_dedup_snapshot_registry_restart): persist
    the registry through ``SnapshotTable`` upserts keyed on ``s`` with
    rows tagged by epoch, read it back filtered to epochs strictly
    before the current one (a replayed epoch must not see its own
    blocks), and overwrite an epoch-keyed output directory.
    """
    blocks = _block_table(new, id_col, text, block_words, [], unit) \
        .withColumn("s", F.xxhash64("btxt"))
    canon = blocks.groupBy("s").agg(
        F.min(F.struct(F.col(id_col), F.col("b"))).alias("first")
    )
    kept = (
        blocks.join(canon, "s")
        .filter(
            (F.col(f"first.{id_col}") == F.col(id_col))
            & (F.col("first.b") == F.col("b"))
        )
    )
    if seen_blocks is not None:
        kept = kept.join(seen_blocks.select("s"), "s", "left_anti")
    cleaned = _reassemble_blocks(new, kept, id_col, text, block_words,
                                 [], unit)
    new_blocks = blocks.select("s").distinct()
    if seen_blocks is not None:
        new_blocks = new_blocks.join(
            seen_blocks.select("s"), "s", "left_anti"
        )
    return cleaned, new_blocks


def block_registry(df: DataFrame, id_col: str = "doc_id",
                   text: str = "text",
                   block_words: int = 8,
                   unit: str = "words") -> DataFrame:
    """The seen-block registry of a corpus — one ``s`` (xxhash64)
    column, distinct — as consumed by
    :func:`paragraph_dedup_increment`. One explode + one map-combined
    distinct on 8-byte keys; at 100 TB this is the table a streaming
    ingest keeps in the state store / snapshot table."""
    return (
        _block_table(df, id_col, text, block_words, [], unit)
        .select(F.xxhash64("btxt").alias("s"))
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    key_len: int = 40,
    max_dist: int = 2,
) -> DataFrame:
    """All pairs whose match keys (first ``key_len`` chars) are within
    Levenshtein distance ``max_dist`` — the record-linkage / typo-match
    member of the dedup family. Complements the set-similarity ops
    (Jaccard/PPJoin/containment): edit distance is the right metric
    when near-keys differ by character noise (typos, OCR, URL
    variants), not word-level edits.

    LOSSLESS blocking before the quadratic verify — Pass-Join segment
    partitioning (Li, Deng & Feng, PVLDB'11), chosen over the q-gram
    prefix filter after measurement: on a low-entropy corpus even the
    rarest q-grams are shared by hundreds of keys (measured 3.4M
    candidate pairs from 4.8k distinct keys at sf0.1), while multi-
    character segments stay selective on ANY alphabet:

    * each index key of length L splits into ``d+1`` even segments;
      if ``ed(a, b) <= d``, some optimal edit script leaves one of
      b's segments untouched (pigeonhole over the d+1 segments), and
      the net indel drift before it is at most ``d`` — so that exact
      segment occurs in ``a`` within ±d of its home position;
    * the probe side therefore emits, for every candidate index
      length ``M`` in [len-d, len+d] and every segment slot, the
      substrings of ``a`` at the slot's home position ±d — a CONSTANT
      (2d+1)²·(d+1) rows per key — joined on (M, slot, piece hash);
    * the length filter |len(a)-len(b)| <= d holds by construction
      (M = len(b)); keys shorter than ``2d+1`` (segments would go
      empty) route through a small fallback bucket joined against
      every key shorter than ``3d+1`` — bounded because the length
      filter caps any short key's partner at ``(2d)+d`` chars, and
      covering the mixed (short, long-enough-to-segment) pairs the
      pigeonhole branches structurally miss.

    Verification is a single JVM ``levenshtein`` per candidate —
    whole-stage codegen, no UDF — so even a piece-hash collision can
    only add a candidate, never a wrong pair. The driver oracle is
    the NAIVE all-pairs DuckDB join: the hash check proves the
    blocking is lossless end-to-end, exactly as
    llm_prefix_filter_pairs does for PPJoin.

    Scale shape: exact-duplicate keys COLLAPSE first (one hash agg),
    so everything above runs over DISTINCT keys only — a corpus where
    the same key repeats m times (mirror dumps, crawl re-fetches)
    adds nothing to the join. Duplicate groups re-expand into output
    pairs at the end through id-keyed joins, where the work is
    output-bound by construction (those pairs ARE the answer). No
    all-pairs product anywhere on the long-key path.
    """
    d = max_dist
    nseg = d + 1
    cut = 2 * d + 1
    ids = df.select(
        F.col(id_col).alias("_id"),
        F.substring(F.col(text), 1, key_len).alias("key"),
    )
    keys = (
        ids.groupBy("key")
        .agg(F.min("_id").alias("kid"))
        .withColumn("klen", F.length("key"))
    )
    big = keys.filter(F.col("klen") >= cut)

    def seg_start(i, m):
        # 1-indexed start of slot i for a length-m key (even split);
        # values are tiny so the float floor path is exact
        return F.floor(i * m / nseg) + 1

    def seg_len(i, m):
        return F.floor((i + 1) * m / nseg) - F.floor(i * m / nseg)

    # index side: the d+1 segments of every distinct key
    slots = F.explode(
        F.array(*[F.lit(i) for i in range(nseg)])
    ).alias("slot")
    idx = big.select("kid", "klen", "key", slots).select(
        F.col("kid").alias("kb"),
        F.col("klen").alias("lb"),
        F.xxhash64(
            "klen", "slot",
            F.col("key").substr(
                seg_start(F.col("slot"), F.col("klen")),
                seg_len(F.col("slot"), F.col("klen")),
            ),
        ).alias("piece"),
    )
    # probe side: for every candidate index length M = klen+dm and
    # slot, the substrings at the slot's home position +-d — a
    # constant (2d+1)^2*(d+1) combos per key, pre-built as literals
    combos = F.explode(F.array(*[
        F.struct(F.lit(dm).alias("dm"), F.lit(i).alias("slot"),
                 F.lit(s).alias("sh"))
        for dm in range(-d, d + 1)
        for i in range(nseg)
        for s in range(-d, d + 1)
    ])).alias("c")
    m = F.col("c.dm") + F.col("klen")
    st = seg_start(F.col("c.slot"), m) + F.col("c.sh")
    sl = seg_len(F.col("c.slot"), m)
    probe = (
        big.select("kid", "klen", "key", combos)
        .withColumn("m", m)
        .withColumn("st", st)
        .withColumn("sl", sl)
        .filter(
            (F.col("m") >= cut)
            & (F.col("st") >= 1)
            & (F.col("st") + F.col("sl") - 1 <= F.col("klen"))
        )
        .select(
            F.col("kid").alias("ka"),
            F.xxhash64(
                "m", F.col("c.slot"),
                F.col("key").substr(F.col("st"), F.col("sl")),
            ).alias("piece"),
        )
    )
    cand = (
        probe.join(idx, "piece")
        .filter(F.col("ka") != F.col("kb"))
        .select(
            F.least("ka", "kb").alias("ka"),
            F.greatest("ka", "kb").alias("kb"),
        )
        .distinct()
    )
    # short keys (< 2d+1 chars): the segment pigeonhole needs d+1
    # non-empty segments, so short keys never enter probe/idx. Any
    # qualifying PARTNER of a short key has length <= (cut-1)+d by
    # the length filter — so the lossless fallback is short × (all
    # keys shorter than cut+d), still a bounded bucket (both sides
    # come from a constant-length key domain). NOTE the partner side
    # deliberately includes keys of length cut..cut+d-1: a (4, 5)
    # pair is produced by NEITHER pigeonhole branch, and the earlier
    # both-short form silently dropped it (r13 review finding —
    # latent on the 40-char fixture keys, pinned by
    # test_edit_distance_short_long_boundary_pairs).
    sa = keys.filter(F.col("klen") < cut).select(
        F.col("kid").alias("ka"), F.col("klen").alias("la"))
    sb = keys.filter(F.col("klen") < cut + d).select(
        F.col("kid").alias("kb"), F.col("klen").alias("lb"))
    short_cand = (
        sa.join(
            sb,
            (F.col("ka") != F.col("kb"))
            & (F.abs(F.col("la") - F.col("lb")) <= F.lit(d)),
        )
        .select(
            F.least("ka", "kb").alias("ka"),
            F.greatest("ka", "kb").alias("kb"),
        )
        .distinct()
    )
    ja = keys.select(F.col("kid").alias("ka"), F.col("key").alias("key_a"),
                     F.col("klen").alias("la"))
    jb = keys.select(F.col("kid").alias("kb"), F.col("key").alias("key_b"),
                     F.col("klen").alias("lb"))
    kp = (
        cand.unionByName(short_cand)
        .distinct()
        .join(ja, "ka")
        .join(jb, "kb")
        .withColumn("dist", F.levenshtein("key_a", "key_b"))
        .filter(F.col("dist") <= max_dist)
    )
    # expand distinct-key matches over the duplicate-key groups; the
    # lens must travel WITH their ids through the (doc_a, doc_b)
    # normalization
    ma = ids.select(F.col("key").alias("key_a"), F.col("_id").alias("ida"))
    mb = ids.select(F.col("key").alias("key_b"), F.col("_id").alias("idb"))
    sw = F.col("ida") <= F.col("idb")
    inter = (
        kp.join(ma, "key_a")
        .join(mb, "key_b")
        .select(
            F.when(sw, F.col("ida")).otherwise(F.col("idb")).alias("doc_a"),
            F.when(sw, F.col("idb")).otherwise(F.col("ida")).alias("doc_b"),
            F.when(sw, F.col("la")).otherwise(F.col("lb")).alias("len_a"),
            F.when(sw, F.col("lb")).otherwise(F.col("la")).alias("len_b"),
            F.col("dist"),
        )
    )
    # identical-key pairs (distance 0): a hash self-join within each
    # duplicate group — pure output, no filtering needed
    x, y = ids.alias("x"), ids.alias("y")
    intra = (
        x.join(
            y,
            (F.col("x.key") == F.col("y.key"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("doc_a"),
            F.col("y._id").alias("doc_b"),
            F.length("x.key").alias("len_a"),
            F.length("y.key").alias("len_b"),
            F.lit(0).alias("dist"),
        )
    )
    verified = inter.unionByName(intra).select(
        "doc_a", "doc_b",
        F.col("len_a").cast("bigint").alias("len_a"),
        F.col("len_b").cast("bigint").alias("len_b"),
        F.col("dist").cast("bigint").alias("dist"),
    )
    with pinned(ids), pinned(keys):
        return verified.localCheckpoint(eager=True)


def near_dup_bands(df: DataFrame, id_col: str = "doc_id",
                   text: str = "text", k: int = 8,
                   band_size: int = 2) -> DataFrame:
    """(id, band_idx, band_key) MinHash-LSH band rows — the unit of
    state for the INCREMENTAL near-dup gate (the banding half of
    :func:`lsh_candidates`, factored out so a stream can register
    bands without materializing candidate pairs)."""
    sig = minhash_signature(df, id_col, text, k=k)
    n_bands = k // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_key"
    )


def near_dup_increment(
    new: DataFrame,
    band_registry: DataFrame | None,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 8,
    band_size: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of the streaming NEAR-dup gate — the MinHash
    sibling of the exact-fingerprint gate in streaming/corpus.py: a
    document is flagged ``dup_near`` when any of its LSH bands was
    already registered by a strictly-earlier epoch, or belongs to a
    smaller id within this batch (keep-first in (epoch, id) order — 
    the same incremental-safe discipline as exact dedup, applied at
    the band level, so the decision stream replays EXACTLY as the
    batch twin :func:`near_dup_replay`).

    Returns ``(decisions, new_bands)``: per-document
    (id, dup_near, keep) for THIS batch, and the distinct
    not-previously-registered (band_idx, band_key) rows to append.

    Scale shape per batch: one signature pass over the BATCH (explode
    shingles → map-combined min-agg), one band groupBy, one anti/semi
    join against the registry keyed on (band_idx, band_key) — linear
    in the batch, never in the corpus; registry state is
    bands-per-doc × docs short rows (the same order as the exact
    gate's fingerprint set)."""
    nb = near_dup_bands(new, id_col, text, k, band_size).localCheckpoint(
        eager=True
    )
    firstb = nb.groupBy("band_idx", "band_key").agg(
        F.min(id_col).alias("_first")
    )
    flags = nb.join(firstb, ["band_idx", "band_key"]).withColumn(
        "_dup", F.col(id_col) > F.col("_first")
    )
    if band_registry is not None:
        reg = band_registry.select("band_idx", "band_key").distinct()
        flags = flags.join(
            reg.withColumn("_seen", F.lit(1)),
            ["band_idx", "band_key"],
            "left",
        ).withColumn("_dup", F.col("_dup") | F.col("_seen").isNotNull())
    decisions = flags.groupBy(id_col).agg(
        F.max("_dup").alias("dup_near")
    ).select(id_col, "dup_near", (~F.col("dup_near")).alias("keep"))
    new_bands = nb.select("band_idx", "band_key").distinct()
    if band_registry is not None:
        new_bands = new_bands.join(
            band_registry.select("band_idx", "band_key").distinct(),
            ["band_idx", "band_key"],
            "left_anti",
        )
    return decisions, new_bands


def near_dup_replay(docs: DataFrame, id_col: str = "doc_id",
                    text: str = "text", k: int = 8,
                    band_size: int = 2) -> DataFrame:
    """Batch twin of :func:`near_dup_increment`: the decisions the
    increment accumulates over any id-ordered replay, in one pass —
    ``dup_near(d)`` ⟺ some band of ``d`` is shared with a smaller id
    anywhere in the corpus. Literally ONE increment step over the
    whole corpus with an empty registry — the keep-first rule lives in
    exactly one place, so the stream and its differential oracle
    cannot desynchronize."""
    decisions, _ = near_dup_increment(
        docs, None, id_col, text, k, band_size
    )
    return decisions


def near_dup_increment_verified(
    new: DataFrame,
    band_registry: DataFrame | None,
    shingle_registry: DataFrame | None,
    tau: float = 0.5,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """VERIFY-THEN-DROP variant of the streaming near-dup gate: a
    document is dropped only when some band-sharing partner with a
    smaller replay position (earlier epoch, or smaller id within this
    batch) ALSO passes an exact shingle-Jaccard ≥ ``tau`` check — LSH
    band collisions nominate candidates but never decide alone, so
    the unverified gate's measured ~20% band-level false-drop rate
    (:func:`near_dup_gate_precision`, COVERAGE.md) goes to zero by
    construction.

    Returns ``(decisions, new_band_rows, new_shingle_rows)``:
    per-document (id, dup_near, keep) for THIS batch, the batch's
    (id, band_idx, band_key) rows to append to the band registry, and
    the batch's (id, shingle array) rows to append to the shingle
    registry. ALL batch docs register (dropped ones too — same
    discipline as the unverified gate), so replay order within the
    registries never matters and the batch twin is literally one
    increment over the whole corpus with empty registries.

    The price of the verify: the band registry keys by (band, id)
    rather than distinct band, and the gate carries each prior doc's
    shingle array as state — corpus-sized, vs the unverified gate's
    band-set-sized state. Scale shape per batch stays linear-in-batch:
    banding bounds candidate pairs, shingles join by id, and the
    exact check is an in-row array_intersect.

    Replay contract (at-least-once foreachBatch): callers MUST filter
    both registries to strictly-earlier epochs (``epoch < e``, the
    t22/t24 convention) so a replayed batch never sees its own killed
    attempt's committed rows — otherwise a replayed doc's same-batch
    SMALLER-id partners read as "prior" and flip within-batch ordering
    decisions. Independently, the partner join self-excludes
    (``_p != _d``) so a doc can never be dropped for colliding with
    its own registered bands at Jaccard 1. Both pinned by
    tests/test_streaming.py::
    test_streaming_verified_gate_replay_idempotent."""
    nb = near_dup_bands(new, id_col, text, k, band_size).localCheckpoint(
        eager=True
    )
    sh = new.select(
        F.col(id_col), shingles_col(text, n).alias("_arr")
    ).localCheckpoint(eager=True)
    # candidate partners: earlier-epoch registry claimants of my bands
    # UNION smaller-id band sharers within this batch
    mine = nb.select(F.col(id_col).alias("_d"), "band_idx", "band_key")
    batch_partners = (
        mine.join(
            nb.select(F.col(id_col).alias("_p"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .filter(F.col("_p") < F.col("_d"))
        .select("_d", "_p")
    )
    if band_registry is not None:
        # _p != _d: under at-least-once foreachBatch a replayed batch
        # finds its OWN committed band rows in the registry; without
        # self-exclusion every replayed doc would partner with itself
        # at Jaccard 1 >= tau and be spuriously dropped. The filter
        # makes the gate idempotent under replay regardless of whether
        # the caller pre-filters the registries to earlier epochs
        # (tested: test_streaming_verified_gate_replay_idempotent).
        prior_partners = (
            mine.join(
                band_registry.select(
                    F.col(id_col).alias("_p"), "band_idx", "band_key"
                ),
                ["band_idx", "band_key"],
            )
            .filter(F.col("_p") != F.col("_d"))
            .select("_d", "_p")
        )
        partners = batch_partners.unionByName(prior_partners)
    else:
        partners = batch_partners
    partners = partners.distinct()
    # partner shingles come from the batch or the registry; my own
    # always from the batch
    p_sh = sh.select(F.col(id_col).alias("_p"), F.col("_arr").alias("_pa"))
    if shingle_registry is not None:
        p_sh = p_sh.unionByName(
            shingle_registry.select(
                F.col(id_col).alias("_p"), F.col("_arr").alias("_pa")
            )
        )
    inter = F.size(F.array_intersect("_arr", "_pa"))
    jac = inter / (F.size("_arr") + F.size("_pa") - inter)
    dropped = (
        partners.join(sh.select(F.col(id_col).alias("_d"), "_arr"), "_d")
        .join(p_sh, "_p")
        .filter(jac >= F.lit(tau))
        .select(F.col("_d").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    decisions = (
        new.select(id_col)
        .distinct()
        .join(dropped, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_dup"), F.lit(False)).alias("dup_near"),
        )
        .withColumn("keep", ~F.col("dup_near"))
    )
    return decisions, nb, sh


def near_dup_replay_verified(
    docs: DataFrame,
    tau: float = 0.5,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """Batch twin of :func:`near_dup_increment_verified` — one
    increment over the whole corpus with empty registries, so the
    drop rule (band-sharing smaller-id partner with exact Jaccard ≥
    tau) lives in exactly one place, same single-source-of-truth
    discipline as :func:`near_dup_replay`."""
    decisions, _, _ = near_dup_increment_verified(
        docs, None, None, tau, id_col, text, k, band_size, n
    )
    return decisions


def near_dup_gate_precision(
    docs: DataFrame,
    tau: float = 0.5,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """Precision audit of the streaming near-dup gate (r11 verdict
    ask #3): the gate drops a document on ANY band collision with a
    smaller id, with no Jaccard verification — LSH false positives
    become permanent drop decisions. This measures that trade: of the
    docs the gate flags (``n_flagged`` — exactly the
    ``dup_near=true`` set of :func:`near_dup_replay`, since a flagged
    doc ⟺ it is the larger side of some band-sharing pair), how many
    actually have a smaller-id partner with EXACT shingle Jaccard ≥
    ``tau`` among its band-sharing partners (``n_verified``), and the
    residual ``false_drop_rate`` = 1 − verified/flagged. With the
    default scheme (k=8, bands of 2) the 50%-collision point sits
    near J≈0.5: P(flag) = 1−(1−J²)⁴.

    One row: (n_flagged, n_verified, false_drop_rate). The number for
    the fixture corpus is pinned in tests/test_streaming_gates.py and
    recorded in COVERAGE.md; callers wanting zero false drops chain
    the gate's candidates through an exact-Jaccard verify before
    registering the drop (the batch operators' verify step,
    ngram_jaccard_pairs) at the cost of carrying doc shingles as gate
    state.

    Scale shape: band self-join bounds pairs (never all-pairs); the
    exact verify carries the two shingle arrays in-row
    (array_intersect, the llm_minhash_accuracy convention); two
    corpus scans total (signature pass + shingle-array pass)."""
    nb = near_dup_bands(docs, id_col, text, k, band_size)
    a = nb.select(
        F.col(id_col).alias("doc_a"), "band_idx", "band_key"
    )
    b = nb.select(
        F.col(id_col).alias("doc_b"), "band_idx", "band_key"
    )
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    arr = docs.select(
        F.col(id_col), shingles_col(text, n).alias("arr")
    )
    aa = arr.select(F.col(id_col).alias("doc_a"),
                    F.col("arr").alias("arr_a"))
    ab = arr.select(F.col(id_col).alias("doc_b"),
                    F.col("arr").alias("arr_b"))
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = inter / (F.size("arr_a") + F.size("arr_b") - inter)
    verified = (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .filter(jac >= F.lit(tau))
        .select("doc_b")
        .distinct()
    )
    flagged = cand.select("doc_b").distinct()
    return (
        flagged.withColumn("_v", F.lit(0))
        .unionByName(verified.withColumn("_v", F.lit(1)))
        .agg(
            F.count_distinct("doc_b").alias("n_flagged"),
            F.count_distinct(
                F.when(F.col("_v") == 1, F.col("doc_b"))
            ).alias("n_verified"),
        )
        .select(
            "n_flagged",
            "n_verified",
            F.when(F.col("n_flagged") == 0, F.lit(0.0))
            .otherwise(
                1.0 - F.col("n_verified") / F.col("n_flagged")
            )
            .alias("false_drop_rate"),
        )
    )
