"""Text-analysis operators: language ID, quality scoring, token
counting, fingerprinting — all JVM-side expressions (no Python UDFs in
the hot path), so they run at full codegen speed over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datawarehouse_spark.operators.partitioning import widen_narrow_input
from datawarehouse_spark.operators.reserved import reject_reserved

#: tiny high-frequency function-word lists per language (public
#: linguistics knowledge); enough for an n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en"],
    "fr": ["le", "la", "de", "et", "que", "les"],
    "de": ["der", "die", "das", "und", "von", "ist"],
}

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
BPE_SPLIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def n_tokens(text: str = "text") -> Column:
    return F.size(F.split(F.col(text), " ")).cast("bigint")


def stopword_hits(text: str = "text", lang: str = "en") -> Column:
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(
        F.filter(F.split(F.col(text), " "), lambda x: F.array_contains(words, x))
    ).cast("bigint")


def quality_stats(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Length / token / stopword-ratio quality features per document."""
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    nt = n_tokens(text)
    n_chars = F.length(F.col(text)).cast("bigint")
    return df.select(
        id_col,
        n_chars.alias("n_chars_actual"),
        nt.alias("n_tokens"),
        # chars minus separators, over token count — deterministic division
        ((n_chars - (nt - 1)) / nt).alias("avg_token_len"),
        (stopword_hits(text, "en") / nt).alias("stopword_ratio"),
    )


def bpe_token_count(text: str = "text") -> Column:
    return F.size(F.regexp_extract_all(F.col(text), F.lit(BPE_SPLIT_PATTERN), 0)).cast(
        "bigint"
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text: str = "text",
                label_col: str | None = "lang") -> DataFrame:
    """Stopword-vote language ID: argmax over per-language hit counts.

    Deterministic tie-break by language code order; 'und' when no
    stopword list fires. ``label_col`` (the fixture's ground-truth
    label, emitted as ``lang_label`` for accuracy checks) is attached
    only when the column exists — real corpora have no label, which is
    the whole point of the classifier; pass ``label_col=None`` or just
    a DataFrame without the column.
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    hits = {lang: stopword_hits(text, lang) for lang in sorted(STOPWORDS)}
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    # reversed so earlier languages win ties via later WHEN overwrite order
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)
    cols = [F.col(id_col)]
    if label_col and label_col in df.columns:
        cols.append(F.col(label_col).alias("lang_label"))
    return df.select(*cols, pred.alias("lang_pred"))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact + normalized content fingerprints (md5)."""
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    norm = F.regexp_replace(F.lower(F.trim(F.col(text))), "\\s+", " ")
    return df.select(
        id_col,
        F.md5(F.col(text)).alias("fp_exact"),
        F.md5(norm).alias("fp_norm"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text: str = "text", k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document.

    Corpus statistics as two shuffles: per-(doc, term) counts (tf) and
    per-term document frequency (df), joined on the term — both
    map-side-combined aggregations, so shuffle volume is distinct keys,
    not token instances. idf = ln((N+1)/(df_t+1)) smoothed; scores are
    rounded to 6 so the JVM and oracle libm agree. At 100 TB the term
    dictionary is the skew risk (stopwords) — the df join naturally
    broadcasts the heavy tail after a frequency cap, and tf·idf of
    capped stopwords ≈ 0 anyway.
    """
    from pyspark.sql import Window as W

    # N as a one-row scalar agg cross-joined in (broadcast), not a
    # driver-side count(): the whole computation is one job, and the
    # count branch scans zero data columns (row-count-only parquet read)
    # instead of blocking the driver before the query even starts.
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    terms = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("_n_docs") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1.0))
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def train_split(df: DataFrame, id_col: str = "doc_id",
                val_pct: int = 5) -> DataFrame:
    """Deterministic hash-based train/val split — the standard
    training-corpus partitioner. md5-derived bucket (not rand()) so the
    split is stable across runs, engines, and re-partitioning; changing
    membership requires changing the id, never the execution plan.
    32-bit hash prefix: 2^32 mod 100 biases the split by ~2e-8
    (a 16-bit prefix would run ~0.15% hot on buckets 0-35)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return df.select(
        F.col(id_col),
        F.when(bucket < val_pct, F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


def global_shuffle(df: DataFrame, id_col: str = "doc_id",
                   n_shards: int = 8, seed: str = "s0") -> DataFrame:
    """Deterministic corpus-wide shuffle into ``n_shards`` training
    shards: every document gets a (shard, pos) address from an
    md5-keyed permutation. The training-data analogue of ``ORDER BY
    random()`` — but seeded, engine-independent, and re-runnable:
    the same (seed, id) always lands at the same address, so a resumed
    or re-executed pipeline emits byte-identical shards.

    Scale shape: no global sort. Shard assignment is an embarrassingly
    parallel hash; positions need one shuffle partitioned BY SHARD and
    a sort within each shard (row_number over the shard partition). At
    100 TB use n_shards in the thousands so each shard's sort fits an
    executor — shard count, not corpus size, bounds the parallelism.
    """
    from pyspark.sql import Window as W

    key = F.md5(F.concat_ws("-", F.lit(seed), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("int") % n_shards
    )
    w = W.partitionBy("shard").orderBy("k", id_col)
    return (
        df.select(F.col(id_col), key.alias("k"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


# PII patterns shared verbatim by the Spark implementation and the
# DuckDB oracle (ASCII classes only, so Java regex and RE2 agree on
# every match; both engines use leftmost non-overlapping semantics).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d{1,3}[ -]\d{3}[ -]\d{3,6}\b",
}


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII scrubbing — redact emails, IPv4 addresses and international
    phone numbers to typed placeholder tokens, emitting per-document
    match counts for audit. The compliance pass every published training
    corpus runs (C4/RefinedWeb-style regex scrub).

    All JVM expressions (regexp_count + chained regexp_replace) — no
    Python in the loop, zero shuffle, scales linearly with corpus size.
    Replacement order (email → ip → phone) is fixed so later patterns
    can never match inside an earlier placeholder.
    """
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    redacted = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(
        F.col(id_col),
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint")
            .alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
        redacted.alias("redacted"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing step of a
    training-corpus pipeline (down-weight dominant languages/sources to
    hit target mixture rates).

    Keep decision: md5("stratum|id") mod 10000 < rate·10000 — per-row
    JVM expressions, zero shuffle at any scale, and stable across runs,
    engines, and repartitioning (never ``sample()``/rand(), whose
    output depends on partitioning). Salting the hash with the stratum
    decorrelates keep decisions across strata, so changing one
    stratum's rate never perturbs another's sample. The rate table is
    a tiny literal CASE chain — no join.

    The bucket takes 8 hex chars (32 bits) of the md5: 2^32 mod 10000
    leaves a relative rate bias of ~2e-6. (A 16-bit prefix — the
    obvious 4-char choice — is visibly non-uniform mod 10000: low
    residues occur 7/65536 vs 6/65536, over-sampling every rate below
    0.554 by ~6.8% relative.)

    Output: (id, stratum, keep) for every row — downstream consumers
    filter ``keep`` (emitting the decision, not the filtered set, is
    what makes the op row-level verifiable).
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col(strata_col), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    permyriad = None
    for s, r in sorted(rates.items()):
        lit = int(round(r * 10000))
        cond = F.col(strata_col) == s
        permyriad = (
            F.when(cond, lit) if permyriad is None else permyriad.when(cond, lit)
        )
    default_lit = int(round(default_rate * 10000))
    permyriad = (
        permyriad.otherwise(default_lit) if permyriad is not None
        else F.lit(default_lit)
    )
    return df.select(
        F.col(id_col), F.col(strata_col), (bucket < permyriad).alias("keep")
    )


def sequence_packing(df: DataFrame, id_col: str = "doc_id",
                     text: str = "text", budget: int = 4096,
                     n_shards: int = 8) -> DataFrame:
    """Sequence packing: bin documents into token-budget packs — the
    trainer-side batching step (context-length packing).

    Greedy-by-id within a shard: shard = id mod n_shards (the
    parallelism unit — packing is embarrassingly parallel per shard at
    any scale), then a running token cumsum assigns pack_id =
    floor((cumsum-1)/budget). One window shuffle per shard key;
    deterministic and SQL-expressible, unlike first-fit-decreasing
    (whose global order dependence defeats distribution).

    Budget semantics — concatenate-and-wrap, NOT strict bin capacity:
    a document is assigned to the pack where its cumulative range ENDS,
    so a pack containing a boundary-straddling document can exceed
    ``budget`` by up to that document's length minus one token (e.g.
    budget 8, docs of 3/6/7 tokens → packs {3} and {6,7}=13). This is
    the streaming "fill, carry the straddler, continue" model trainers
    pair with truncation; exact capacity-respecting greedy is
    inherently sequential per shard (non-associative) and would trade
    the one-window SQL-expressible plan for applyInPandas. Callers
    needing hard caps must pre-split documents longer than ``budget``
    (chunk_documents) and accept ≤ one straddler of slack per pack."""
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("bigint").alias("shard"),
        bpe_token_count(text).alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return toks.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - 1) / budget).alias("pack_id"),
    )


def ffd_packing(df: DataFrame, id_col: str = "doc_id",
                text: str = "text", budget: int = 128,
                group_size: int = 8,
                tokens_col: str | None = None) -> DataFrame:
    """First-fit-decreasing sequence packing within bounded packing
    groups — the tokenizer-aware twin of :func:`sequence_packing`
    (VERDICT r12 ask #8). Where sequence_packing wraps a running
    cumsum (a straddler may overflow its pack), FFD respects a HARD
    ``budget`` per bin: items are taken longest-first and each goes
    into the lowest-numbered bin it fits, else it opens a new bin —
    the classic 11/9·OPT+1 bin-packing heuristic, which is how
    training-batch prep minimizes padding waste at a fixed context
    length. (An item longer than ``budget`` gets a bin of its own —
    callers chunk such docs first, as with sequence_packing.)

    Global FFD is inherently sequential, so the distributed form
    bounds the sequence: one exact global rank by
    (n_tokens DESC, id) — the shared block-offset primitive
    (operators/rank.py::global_rank), NO single-partition sort — then
    rank-contiguous groups of ``group_size`` docs pack independently.

    Within a group the first-fit recurrence is ONE higher-order
    ``aggregate`` lambda over the group's collected (slot, id, n)
    structs (r14 rewrite, guide §4.1 — higher-order functions run in
    JVM codegen, no UDF): the fold state is (bin loads, assignments),
    each step first-fits one item exactly as the former
    ``group_size-1``-stage join/agg unroll did, with the identical
    integer arithmetic, so the output is bit-for-bit unchanged
    (pinned by the sequential-reference property test). This replaces
    7 bounded joins + 7 aggregations + 4 eager localCheckpoint jobs
    with a single groupBy shuffle of (grp, slot, id, n) rows — at any
    scale the per-task state is one ``group_size``-element array, and
    the whole computation stays CTE-expressible for the cross-engine
    oracle.

    Output carries the bin-occupancy ledger per doc: (id, n_tokens,
    pack_grp, bin_id global across groups, bin_load, n_in_bin,
    bin_fill = load/budget).

    ``tokens_col`` (r14): when given, item sizes come from that
    (already-computed, bigint-castable) column instead of
    ``bpe_token_count(text)`` — the composition hook that lets a
    chunker feed its own piece sizes into the packer
    (llm_batch_prep's chunk ∘ FFD pipeline)."""
    if group_size < 2:
        raise ValueError("ffd_packing: group_size must be >= 2")
    # the first projection keeps only id_col, so it is the one input
    # name that meets the columns added after it (operators/reserved.py)
    reject_reserved("ffd_packing", [id_col], (
        "n_tokens", "_r", "pack_grp", "bin_id", "bin_load", "n_in_bin",
        "bin_fill",
    ))
    from datawarehouse_spark.operators.rank import global_rank

    if tokens_col is None:
        toks = df.select(
            F.col(id_col), bpe_token_count(text).alias("n_tokens")
        )
    else:
        toks = df.select(
            F.col(id_col),
            F.col(tokens_col).cast("bigint").alias("n_tokens"),
        )
    ranked = global_rank(
        toks, order=[F.desc("n_tokens"), F.asc(id_col)], rank_col="_r"
    )
    items = ranked.select(
        F.floor((F.col("_r") - 1) / group_size).alias("grp"),
        F.struct(
            ((F.col("_r") - 1) % group_size).alias("slot"),
            F.col(id_col).alias("id"),
            F.col("n_tokens").cast("bigint").alias("n"),
        ).alias("x"),
    )
    # one shuffle: each group's <= group_size items collect into an
    # array; array_sort orders by slot (the struct's leading field,
    # distinct within a group), reproducing the unroll's slot order
    grouped = items.groupBy("grp").agg(
        F.array_sort(F.collect_list("x")).alias("xs")
    )

    # the first-fit fold. State: (loads = per-bin totals so far,
    # asg = (id, n, bin) per placed item). Slot 0 seeds the state
    # (it always opens bin 0 — exactly the unroll's base case), the
    # remaining slots fold in slot order. b0 is the 0-based index of
    # the lowest bin with room (NULL → open a new bin); the
    # single-element transform binds the filter result once.
    def _step(st, x):
        fit0 = F.element_at(
            F.filter(
                F.sequence(F.lit(0), F.size(st["loads"]) - F.lit(1)),
                lambda i: F.element_at(st["loads"], i + F.lit(1)) + x["n"]
                <= F.lit(budget),
            ),
            1,
        )
        return F.element_at(
            F.transform(
                F.array(fit0),
                lambda b0: F.struct(
                    F.when(
                        b0.isNull(),
                        F.concat(st["loads"], F.array(x["n"])),
                    )
                    .otherwise(
                        F.transform(
                            st["loads"],
                            lambda l, j: F.when(
                                j == b0, l + x["n"]
                            ).otherwise(l),
                        )
                    )
                    .alias("loads"),
                    F.concat(
                        st["asg"],
                        F.array(
                            F.struct(
                                x["id"].alias("id"),
                                x["n"].alias("n"),
                                F.coalesce(
                                    b0, F.size(st["loads"])
                                ).alias("bin"),
                            )
                        ),
                    ).alias("asg"),
                ),
            ),
            1,
        )

    head = F.element_at("xs", 1)
    packed = grouped.select(
        "grp",
        F.col("xs").alias("xs"),
        F.aggregate(
            F.slice(F.col("xs"), F.lit(2), F.size("xs") - F.lit(1)),
            F.struct(
                F.array(head["n"]).alias("loads"),
                F.array(
                    F.struct(
                        head["id"].alias("id"),
                        head["n"].alias("n"),
                        F.lit(0).alias("bin"),
                    )
                ).alias("asg"),
            ),
            _step,
        ).alias("st"),
    )
    exploded = packed.select(
        "grp",
        F.col("st.loads").alias("_loads"),
        F.col("st.asg").alias("_asg"),
        F.explode(F.col("st.asg")).alias("_x"),
    )
    return exploded.select(
        F.col("_x.id").alias(id_col),
        F.col("_x.n").alias("n_tokens"),
        F.col("grp").cast("bigint").alias("pack_grp"),
        (F.col("grp") * group_size + F.col("_x.bin"))
        .cast("bigint").alias("bin_id"),
        F.element_at(F.col("_loads"), F.col("_x.bin") + F.lit(1))
        .cast("bigint").alias("bin_load"),
        F.size(
            F.filter(F.col("_asg"), lambda a: a["bin"] == F.col("_x.bin"))
        ).cast("bigint").alias("n_in_bin"),
        F.round(
            F.element_at(F.col("_loads"), F.col("_x.bin") + F.lit(1))
            / F.lit(budget),
            6,
        ).alias("bin_fill"),
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text: str = "text", k: int = 3,
                        w: int = 4) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson, Aiken — the MOSS algorithm): hash every positional word
    k-gram, slide a w-gram window over the hash sequence, keep each
    window's minimum → a fingerprint set robust to content shifts
    (insertions move boundaries; local minima mostly survive), with
    guaranteed density 2/(w+1).

    Engine-portable rolling hash: the first 15 md5 hex digits parsed as
    int64 (60 bits — exact in any engine, unlike a mod-prime polynomial
    whose overflow semantics differ). All JVM expressions: posexplode →
    one window shuffle per doc → distinct.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.col(text), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    g = df.select(F.col(id_col), F.posexplode(grams).alias("pos", "gram")).select(
        id_col,
        "pos",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    n = W.partitionBy(id_col)
    win = W.partitionBy(id_col).orderBy("pos").rowsBetween(W.currentRow, w - 1)
    return (
        g.withColumn("_n", F.count(F.lit(1)).over(n))
        .withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("_n") - w)  # full windows only
        .select(id_col, "fp")
        .distinct()
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    fraction of duplicate words / word-bigrams and the share of the
    most frequent word / bigram, per document. Heavily repetitive
    documents (boilerplate, keyword stuffing, templated spam) are the
    classic pre-training quality cut.

    Scale shape: bigrams are built JVM-side inside the row
    (zip_with over two array slices — no per-doc window shuffle), then
    ONE explode + map-combined count per granularity; both aggregates
    key on (doc_id, token), so partial aggregation absorbs the
    within-doc repetition before any shuffle.
    """
    toks = F.split(F.col(text), " ")
    bgs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    wc = (
        df.select(F.col(id_col), F.explode(toks).alias("t"))
        .groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    )
    wstats = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("top_w"),
    )
    bc = (
        df.select(F.col(id_col), F.explode(bgs).alias("t"))
        .groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    )
    bstats = bc.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("top_b"),
    )
    nw, nb = F.col("n_words"), F.col("n_bigrams")
    # plain IEEE double divisions — bit-identical in any engine, so the
    # thresholds below can't straddle a rounding boundary
    top_word_ratio = F.col("top_w") / nw
    dup_word_ratio = (nw - F.col("n_distinct_words")) / nw
    dup_bigram_ratio = F.when(nb > 0, (nb - F.col("n_distinct_bigrams")) / nb) \
        .otherwise(F.lit(0.0))
    top_bigram_ratio = F.when(nb > 0, F.col("top_b") / nb).otherwise(F.lit(0.0))
    return wstats.join(bstats, id_col, "left").select(
        F.col(id_col),
        nw,
        F.col("n_distinct_words"),
        top_word_ratio.alias("top_word_ratio"),
        dup_word_ratio.alias("dup_word_ratio"),
        dup_bigram_ratio.alias("dup_bigram_ratio"),
        top_bigram_ratio.alias("top_bigram_ratio"),
        (top_word_ratio > 0.2).alias("gopher_fail"),
    )


def contamination_check(train: DataFrame, eval_df: DataFrame,
                        id_col: str = "doc_id", text: str = "text",
                        n: int = 5) -> DataFrame:
    """Benchmark-contamination scan: for every training document, the
    count and fraction of its distinct word n-gram shingles that occur
    anywhere in the evaluation corpus — the standard pre-training
    decontamination signal (n-gram overlap against held-out benchmarks).

    Scale shape: the eval side is a benchmark suite — tiny next to a
    100 TB train corpus — so its distinct shingle set is BROADCAST and
    the hit-count is a map-side semi-join: the train corpus is touched
    in one pass with no shuffle of the text at all (the only shuffle is
    the per-doc count aggregation on doc_id).
    """
    from datawarehouse_spark.operators.dedup import shingles_col

    # shingles int64-hashed before the join: 8-byte probe keys and a
    # ~3× smaller broadcast than raw shingle strings (collision odds
    # ~n²/2⁶⁴ — same trade the n-gram near-dup path makes)
    train = widen_narrow_input(train)  # guide §2.5: one-split sources must not map on one core
    tr = train.select(
        F.col(id_col), F.explode(shingles_col(text, n)).alias("s")
    ).select(id_col, F.xxhash64("s").alias("s"))
    ev = (
        eval_df.select(F.explode(shingles_col(text, n)).alias("s"))
        .select(F.xxhash64("s").alias("s"))
        .distinct()
    )
    # ONE pass over the train shingles: broadcast left join marks hits,
    # then a single agg counts both totals (a separate semi-join would
    # explode the train text a second time)
    marked = tr.join(
        F.broadcast(ev.withColumn("_hit", F.lit(1))), "s", "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("_hit").alias("n_hit"),
        )
        .select(
            F.col(id_col),
            "n_sh",
            "n_hit",
            (F.col("n_hit") / F.col("n_sh")).alias("contaminated_frac"),
        )
    )


def bloom_contamination(train: DataFrame, eval_df: DataFrame,
                        id_col: str = "doc_id", text: str = "text",
                        n: int = 3, m: int = 4096, k: int = 3) -> DataFrame:
    """Bloom-filter contamination scan — the MEMBERSHIP sketch that
    completes the sketch family (CMS counts, HLL cardinality, t-digest
    quantiles): the eval corpus's shingles are folded into an m-bit
    Bloom filter (k md5-derived bit positions per shingle — the CMS
    bucket convention, so both engines build the bit-identical
    filter), and every train shingle probes it. Output per train doc:
    shingle count, Bloom hits, EXACT hits, and the false-positive
    count the m/k choice actually produced — the sketch's honesty
    metric, oracle-checked rather than assumed from theory.

    Why Bloom and not the exact broadcast set
    (:func:`contamination_check`): the exact set is O(distinct eval
    shingles); the filter is m BITS regardless of eval size and is
    MERGEABLE (bitwise OR), so benchmark suites can be folded in
    incrementally and shipped to every executor as a constant-size
    broadcast even when the eval side stops being small. Probing is
    map-side (broadcast join on bit position); the only data shuffle
    is the per-doc count on ``id_col``.
    """
    from datawarehouse_spark.operators.dedup import shingles_col

    def bit(col: Column, j: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(j)), col)), 1, 8
                ), 16, 10
            ).cast("bigint") % m
        )

    ev_sh = eval_df.select(
        F.explode(shingles_col(text, n)).alias("s")
    ).distinct()
    # the filter: the set of set bits (≤ m rows — the bitset in
    # relational form; a real deployment packs it into m/64 longs)
    bits = (
        ev_sh.select(
            F.explode(F.array(*[bit(F.col("s"), j) for j in range(k)]))
            .alias("b")
        )
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    train = widen_narrow_input(train)  # guide §2.5: one-split sources must not map on one core
    tr = train.select(
        F.col(id_col), F.explode(shingles_col(text, n)).alias("s")
    )
    probes = tr.select(
        id_col, "s",
        F.explode(F.array(*[bit(F.col("s"), j) for j in range(k)]))
        .alias("b"),
    )
    # a shingle is a Bloom hit iff ALL k probed bits are set
    per_sh = (
        probes.join(F.broadcast(bits), "b", "left")
        .groupBy(id_col, "s")
        .agg((F.count("_set") == k).alias("bloom_hit"))
    )
    exact = ev_sh.withColumn("_ex", F.lit(1))
    marked = per_sh.join(F.broadcast(exact), "s", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.col("bloom_hit").cast("bigint")).alias("n_bloom"),
            F.count("_ex").alias("n_exact"),
            F.sum(
                (F.col("bloom_hit") & F.col("_ex").isNull()).cast("bigint")
            ).alias("n_fp"),
        )
        .select(
            F.col(id_col), "n_sh", "n_bloom",
            F.col("n_exact").cast("bigint").alias("n_exact"), "n_fp",
            (F.col("n_bloom") / F.col("n_sh")).alias("bloom_frac"),
        )
    )


def importance_weights(df: DataFrame, target: Column,
                       id_col: str = "doc_id", text: str = "text",
                       n_buckets: int = 256) -> DataFrame:
    """DSIR-style importance-resampling weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score each document by how much its hashed-token distribution looks
    like a target domain vs the whole corpus, so the corpus can be
    resampled toward the target with `weight`-proportional sampling.

    ``target`` is a boolean Column over ``df``'s rows marking the
    target-domain documents (e.g. ``F.col("lang") == "en"``).

    Hashed n-gram model: every whitespace token maps to one of
    ``n_buckets`` buckets keyed by the first ``log16(n_buckets)`` hex
    chars of its md5 (default 256 → 2 chars) — the bucket key is a
    *string*, so the identical bucketing is expressible in any SQL
    oracle without hex→int casts. ``n_buckets`` must be a power of 16
    so the bucket count and the add-one smoothing constant B stay
    consistent (sum over buckets of n+1 == N+B).
    With add-one smoothing, bucket probabilities are
    ``p_t(b) = (n_t[b]+1)/(N_t+B)`` (target) and
    ``q_c(b) = (n_c[b]+1)/(N_c+B)`` (corpus), and the per-document
    weight is the ratio of summed likelihoods

        w(doc) = sum_tokens p_t(b) / sum_tokens q_c(b)
               = (s_t * (N_c+B)) / (s_c * (N_t+B))

    — computed as doubles: every factor is an int64 exactly
    representable below 2^53, and IEEE multiply/divide round
    identically in any engine, so the result is bit-deterministic with
    no int64-product overflow ceiling. Headroom is the factor bound
    (~9e15 tokens ≈ 36 PB of text); beyond that flip the final step to
    a per-doc log-space sum — same plan shape, unbounded range.

    Scale shape: one explode pass over the text, ONE shuffle to build
    the 256-row bucket table, which then BROADCASTS back onto the
    token stream — the per-doc pass is map-side — and one shuffle for
    the per-doc aggregation. No token string ever shuffles twice.
    """
    b = n_buckets
    # derive the key width from n_buckets so bucket count and smoothing
    # constant can never disagree (the bug class: n_buckets=512 with a
    # hardcoded 2-char key would smooth 512 over 256 actual buckets)
    n_hex = 0
    while 16 ** n_hex < n_buckets:
        n_hex += 1
    if 16 ** n_hex != n_buckets:
        raise ValueError(
            f"n_buckets must be a power of 16 (hex-prefix bucketing), "
            f"got {n_buckets}"
        )
    tok = df.select(
        F.col(id_col),
        target.alias("is_t"),
        F.explode(F.split(F.col(text), " ")).alias("w"),
    ).select(
        id_col, "is_t",
        # n_buckets buckets via n_hex hex chars: engine-portable string key
        F.substring(F.md5("w"), 1, n_hex).alias("b"),
    )
    stats = tok.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_c"),
        F.sum(F.col("is_t").cast("bigint")).alias("n_t"),
    )
    totals = stats.agg(
        F.sum("n_c").alias("cap_n_c"), F.sum("n_t").alias("cap_n_t")
    )
    stats = stats.crossJoin(F.broadcast(totals))
    per = (
        tok.drop("is_t")
        .join(F.broadcast(stats), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            (F.sum("n_t") + F.count(F.lit(1))).alias("s_target"),
            (F.sum("n_c") + F.count(F.lit(1))).alias("s_corpus"),
            F.max("cap_n_t").alias("cap_n_t"),
            F.max("cap_n_c").alias("cap_n_c"),
        )
    )
    return per.select(
        id_col, "n_tok", "s_target", "s_corpus",
        # each factor casts to double BEFORE multiplying: factors are
        # exact below 2^53 and IEEE multiply/divide is deterministic in
        # both engines, so there is no int64 overflow ceiling — the
        # sums themselves hold to ~9e15 tokens
        (
            (F.col("s_target").cast("double")
             * (F.col("cap_n_c") + b).cast("double"))
            / (F.col("s_corpus").cast("double")
               * (F.col("cap_n_t") + b).cast("double"))
        ).alias("weight"),
    )


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    stride: int = 48, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Overlapping token-window chunking — the RAG-indexing /
    long-document-pretraining prep step: split each document into
    windows of ``chunk_tokens`` whitespace tokens starting every
    ``stride`` tokens (overlap = chunk_tokens - stride).

    Output: one row per (doc, chunk) with stable addresses —
    ``chunk_id`` (= tok_start / stride), ``[tok_start, tok_end)``
    token range, the chunk token count, and the chunk text. Addresses
    are pure functions of the document, so re-running over a grown
    corpus never renumbers existing chunks.

    Scale shape: fully JVM-side — split once, ``sequence`` generates
    the start offsets, ``explode`` fans out, ``slice``/``array_join``
    build the chunk text. Zero shuffle, zero Python; output size is
    ~(chunk_tokens/stride)× the corpus, produced streaming per
    partition.
    """
    if not (0 < stride <= chunk_tokens):
        raise ValueError(f"need 0 < stride <= chunk_tokens, "
                         f"got {stride}/{chunk_tokens}")
    toks = F.split(F.col(text_col), " ")
    # drop trailing starts whose chunk is fully contained in the
    # previous chunk (previous end s-stride+chunk already reached the
    # doc end): with overlap, the naive start grid emits one redundant
    # tail chunk per document — pure index bloat for a RAG store
    out = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.explode(
                F.filter(
                    F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride)),
                    lambda s: (s == 0)
                    | (s + (chunk_tokens - stride) < F.size("_toks")),
                )
            ).alias("tok_start"),
        )
        .select(
            id_col,
            F.expr(f"tok_start div {stride}").cast("bigint").alias("chunk_id"),
            F.col("tok_start").cast("bigint").alias("tok_start"),
            F.least(
                F.col("tok_start") + chunk_tokens, F.size("_toks")
            ).cast("bigint").alias("tok_end"),
            F.array_join(
                F.slice("_toks", F.col("tok_start") + 1, F.lit(chunk_tokens)),
                " ",
            ).alias("chunk_text"),
        )
    )
    return out.withColumn(
        "n_chunk_tokens", (F.col("tok_end") - F.col("tok_start")).cast("bigint")
    )


def domain_token_cap(df: DataFrame, cap_tokens: int = 20000,
                     domain_col: str = "source", id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-domain token-budget capping — the corpus-balancing step that
    stops a handful of high-volume sources from dominating the training
    mix: within each domain, documents are admitted in a deterministic
    md5-shuffled order until the domain's running token total reaches
    ``cap_tokens``; the rest are dropped (audit rows kept).

    A document is admitted iff the tokens accepted *before* it are
    still under the cap, so every domain gets at least one document and
    the budget is never overshot by more than one document — the same
    admission rule as reservoir-style corpus capping, but deterministic
    and engine-portable (md5 order, not rand()).

    Scale shape: ONE shuffle (window partitioned by domain); the
    cumulative sum is a per-partition streaming pass. Domains are the
    parallelism unit — at 100 TB with few giant domains, pre-split hot
    domains on a salt, cap each slice at cap/n_salt, and union.
    """
    from pyspark.sql import Window as W

    n_tok = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    key = F.md5(F.col(id_col).cast("string"))
    w = (
        W.partitionBy(domain_col)
        .orderBy("k", id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        df.select(
            F.col(id_col), F.col(domain_col),
            n_tok.alias("n_tokens"), key.alias("k"),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            id_col, domain_col, "n_tokens",
            F.col("cum_before").cast("bigint").alias("cum_before"),
            (F.col("cum_before") < cap_tokens).alias("keep"),
        )
    )


def quality_percentile_filter(df: DataFrame, keep_frac: float = 0.8,
                              by: str = "source", id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Per-domain quality-percentile gating — keep each source's top
    ``keep_frac`` of documents by quality score instead of one global
    threshold, so a uniformly-noisy domain still contributes its best
    documents and a uniformly-clean one isn't over-pruned (the
    per-source band trick from web-scale corpus filtering).

    Score = stopword_ratio (the same deterministic JVM expression the
    quality_stats op hash-verifies); rank = percent_rank over
    (domain, score desc, id) — the id tiebreak makes the order total,
    so ranks are engine-identical. keep = percent_rank < keep_frac.

    Scale shape: ONE window shuffle partitioned by domain (same unit of
    parallelism as domain_token_cap, same hot-domain salting escape
    hatch). Score computation is map-side; nothing but (id, domain,
    score) shuffles.
    """
    from pyspark.sql import Window as W

    score = stopword_hits(text_col) / n_tokens(text_col)
    w = W.partitionBy(by).orderBy(F.desc("score"), id_col)
    return (
        df.select(F.col(id_col), F.col(by), score.alias("score"))
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("keep", F.col("pr") < keep_frac)
    )


def bigram_counts(df: DataFrame, text: str = "text") -> DataFrame:
    """The shared bigram count table ``(w1, w2, c)`` both LM scorers
    aggregate from — ONE map-combined count over in-row zip_with
    bigrams (shuffle volume = distinct bigram types, never token
    instances). Callers scoring the same corpus under several
    smoothings (lm_score + kn_lm_score in one suite) build this once,
    checkpoint it, and pass it via ``counts=`` so the corpus scan and
    the count shuffle run once instead of per scorer (r14, §2.4)."""
    toks = F.split(F.col(text), " ")
    bgs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    return (
        df.select(F.explode(bgs).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    )


def lm_score(df: DataFrame, id_col: str = "doc_id",
             text: str = "text",
             counts: DataFrame | None = None) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    KenLM-style perplexity quality filter (CCNet, Wenzek et al. 2020):
    documents whose token sequences are improbable under a language
    model trained on the corpus itself are flagged as noise. With no
    external model artifacts available, the LM is the corpus's own
    add-one-smoothed bigram model, which is exactly how the real
    pipeline behaves when the reference corpus IS the training corpus.

    P(w2 | w1) = (c(w1,w2) + 1) / (c(w1,·) + V), V = |distinct w2|.
    Per doc: avg_logp = mean log2 P over its bigrams, ppl = 2^-avg_logp.
    Docs with < 2 tokens emit n_bigrams = 0 and NULL scores.

    Scale shape: bigrams are built in-row (zip_with over two array
    slices — zero shuffle); the corpus is scanned exactly TWICE (model
    build + scoring — rescanning columnar text beats caching a 2× token
    stream at 100 TB), plus a doc_id-only column-pruned scan for the
    left join. The model lineage is ONE map-combined count (shuffle
    volume = distinct bigrams, not token instances), eagerly
    checkpointed; context counts (a w1-partitioned window) and V (an
    agg scalar, broadcast) both read the materialized count table —
    no per-branch recompute of the corpus scan (the round-5
    double-scan bug class) and no whole-table window. The scoring
    join shuffles the doc bigram stream once on (w1, w2); hot stopword
    bigrams are exactly the keys partial aggregation collapses first.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.col(text), " ")
    bgs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = df.select(F.col(id_col), F.explode(bgs).alias("b")).select(
        id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # marginals over the counted table, which is eagerly checkpointed
    # so both consumers (the c1 window and the V scalar) read the
    # materialized counts — no branch ever re-aggregates the corpus
    # scan. c1 stays a w1-PARTITIONED window (vocab-way parallel); V
    # is a plain agg broadcast back via crossJoin, never a whole-table
    # window through one partition (the global-window plan lint).
    # ``counts`` (a prebuilt, caller-materialized bigram_counts table)
    # substitutes for the build — same (w1, w2, COUNT(*)) values, so
    # every downstream number is unchanged (r14 suite fusion).
    if counts is not None:
        c2 = counts.select("w1", "w2", F.col("c").alias("c2"))
    else:
        c2 = bg.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c2")
        ).localCheckpoint(eager=True)
    vt = c2.agg(F.countDistinct("w2").cast("bigint").alias("_v"))
    marked = (
        c2.withColumn("c1", F.sum("c2").over(W.partitionBy("w1")))
        .crossJoin(F.broadcast(vt))
    )
    # per-bigram logp is rounded to 6 BEFORE aggregation (absorbs the
    # ≤1-ulp libm log2 differences between engines), then summed exactly
    # via decimal so float addition order can't move the average — the
    # same order-independence trick as qutil.davg
    model = marked.select(
        "w1", "w2",
        F.round(
            F.log2((F.col("c2") + F.lit(1)).cast("double"))
            - F.log2((F.col("c1") + F.col("_v")).cast("double")),
            6,
        ).alias("logp"),
    )
    # the final per-doc average is rounded to the 1e-6 grid in EXACT
    # INTEGER MICRO space: ROUND(sum/n, 6) over a double straddles
    # double-rounding boundaries the two engines resolve differently
    # (caught by the r11 sf1 sweep — one doc's avg sat exactly on a
    # half-micro). logp ≤ 0 by construction (add-one ratio ≤ 1), so
    # m = -Σ·1e6 is a nonneg bigint and HALF-UP is (2m+n) div (2n).
    scored = (
        bg.join(model, ["w1", "w2"]).groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(F.col("logp").cast("decimal(38,6)")) * F.lit(-1000000))
            .cast("bigint").alias("_m"),
        )
        .withColumn(
            "avg_logp",
            -(F.expr("(2 * _m + n_bigrams) div (2 * n_bigrams)")
              .cast("double")) / F.lit(1000000.0),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.col("avg_logp"),
            F.round(F.pow(F.lit(2.0), -F.col("avg_logp")), 6).alias("ppl"),
        )
    )


def kn_lm_score(df: DataFrame, id_col: str = "doc_id",
                text: str = "text", discount: float = 0.75,
                counts: DataFrame | None = None) -> DataFrame:
    """Interpolated Kneser–Ney bigram perplexity per document — the
    smoothing the REAL CCNet/KenLM quality filter uses (lm_score is
    the add-one baseline; KN is what `kenlm` ships). Absolute
    discount d with continuation-probability backoff:

        p(w2|w1) = (c12 − d)/c1 + (d·N1+(w1,·)/c1) · N1+(·,w2)/B

    where N1+(w1,·) = distinct successors of w1, N1+(·,w2) = distinct
    predecessors of w2 (the continuation count — how many contexts a
    word completes, which is why KN demotes "Francisco": frequent but
    only ever after "San"), and B = total distinct bigram types.
    Trained on the scored corpus itself, every scored bigram has
    c12 ≥ 1 > d, so the max(c12−d, 0) clamp never binds.

    Exactness: all counts are integers; p is pure IEEE arithmetic
    written in the same operation order in both engines; the one libm
    call (log2) is rounded to the 1e-6 grid per bigram before the
    order-independent decimal sum — lm_score's exact convention.

    Scale shape: identical to lm_score (see its docstring): in-row
    zip_with bigrams, ONE map-combined bigram count, all four
    marginals (c1, N1+ after/before, B) as window aggregates over the
    vocab²-bounded count table in one lineage, one scoring join.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.col(text), " ")
    bgs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = df.select(F.col(id_col), F.explode(bgs).alias("b")).select(
        id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    d = F.lit(discount)
    # counted table checkpointed once; word marginals stay PARTITIONED
    # windows, the bigram-type total B is an agg scalar broadcast back
    # (no whole-table window — the global-window plan lint). A prebuilt
    # ``counts`` table substitutes identically (r14 suite fusion —
    # lm_score's add-one baseline aggregates the same (w1, w2) counts).
    if counts is not None:
        c = counts.select("w1", "w2", F.col("c").alias("c12"))
    else:
        c = bg.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c12")
        ).localCheckpoint(eager=True)
    bt = c.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    m = (
        c.withColumn("c1", F.sum("c12").over(W.partitionBy("w1")))
        .withColumn("n1a", F.count(F.lit(1)).over(W.partitionBy("w1")))
        .withColumn("n1b", F.count(F.lit(1)).over(W.partitionBy("w2")))
        .crossJoin(F.broadcast(bt))
    )
    model = m.select(
        "w1", "w2",
        F.round(
            F.log2(
                (F.col("c12") - d) / F.col("c1")
                + (d * F.col("n1a") / F.col("c1"))
                * (F.col("n1b") / F.col("b").cast("double"))
            ),
            6,
        ).alias("logp"),
    )
    # exact integer-micro final average — same double-rounding-boundary
    # fix as lm_score (P_kn ≤ 1 ⇒ logp ≤ 0 ⇒ m ≥ 0)
    scored = (
        bg.join(model, ["w1", "w2"]).groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(F.col("logp").cast("decimal(38,6)")) * F.lit(-1000000))
            .cast("bigint").alias("_m"),
        )
        .withColumn(
            "avg_logp",
            -(F.expr("(2 * _m + n_bigrams) div (2 * n_bigrams)")
              .cast("double")) / F.lit(1000000.0),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.col("avg_logp").alias("kn_avg_logp"),
            F.round(F.pow(F.lit(2.0), -F.col("avg_logp")), 6)
            .alias("kn_ppl"),
        )
    )


def domain_divergence(df: DataFrame, domain_col: str = "source",
                      text: str = "text") -> DataFrame:
    """Per-domain distribution-shift diagnostic: KL(P_domain || P_corpus)
    in bits over unigram token distributions, plus token/vocab volumes.
    The data-mixing companion to DSIR (importance_weights reweights
    documents; this measures how far each whole domain sits from the
    corpus mix — the number a curriculum/mixture tuner actually reads).

    KL is finite by construction: every domain token is a corpus token,
    so P_corpus > 0 wherever P_domain > 0. No smoothing needed.

    Scale shape: ONE corpus scan, ONE map-combined (domain, token)
    count — shuffle volume is distinct keys, not token instances. The
    counted table (vocab × n_domains rows) is checkpointed once; the
    per-domain and per-token marginals are PARTITIONED windows over
    it, and the grand total is an agg scalar broadcast back via
    crossJoin — no branch re-aggregates the corpus scan (the round-5
    double-scan bug class) and no whole-table window through one
    partition (the global-window plan lint).
    """
    from pyspark.sql import Window as W

    sc = (
        df.select(F.col(domain_col), F.explode(F.split(F.col(text), " "))
                  .alias("t"))
        .groupBy(domain_col, "t").agg(F.count(F.lit(1)).alias("c_s"))
    ).localCheckpoint(eager=True)
    tot = sc.agg(F.sum("c_s").cast("bigint").alias("_n"))
    marked = (
        sc.withColumn("n_s", F.sum("c_s").over(W.partitionBy(domain_col)))
        .withColumn("c_t", F.sum("c_s").over(W.partitionBy("t")))
        .crossJoin(F.broadcast(tot))
    )
    p_s = F.col("c_s") / F.col("n_s")
    p_c = F.col("c_t") / F.col("_n")
    return (
        marked.groupBy(domain_col)
        .agg(
            F.sum("c_s").cast("bigint").alias("n_tok"),
            F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
            # per-term round 9 absorbs libm log2 ulp skew; exact decimal
            # sum makes the reduction order-independent (qutil.dsum)
            F.round(
                F.sum(
                    F.round(p_s * (F.log2(p_s) - F.log2(p_c)), 9)
                    .cast("decimal(38,9)")
                ).cast("double"),
                6,
            ).alias("kl_bits"),
        )
    )


def domain_overlap(df: DataFrame, domain_col: str = "source",
                   text: str = "text", n: int = 3) -> DataFrame:
    """Domain-pair overlap matrix: exact word-n-gram-shingle-set
    Jaccard between every pair of domains. The corpus-level leakage
    diagnostic — per-doc dedup (MinHash/LSH) answers "which documents
    repeat"; this answers "which SOURCES share content" (mirror sites,
    syndicated feeds, train/benchmark leakage at acquisition level).
    Documents shorter than ``n`` tokens contribute no shingles.

    Scale shape: ONE explode into distinct (domain, shingle) — the
    distinct is map-combined, so shuffle volume is per-domain shingle
    vocabulary, not token instances. The self-join fans out at most
    n_domains² rows per shingle (domains are few; this is NOT a
    doc-level pair join), and the sizes table broadcasts. At 100 TB
    swap the string shingle for xxhash64 as the join key (the
    ngram_jaccard_pairs trick) — the string form here is what the
    cross-engine oracle can reproduce exactly.
    """
    toks = F.split(F.col(text), " ")
    sh_arr = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    sh = (
        df.filter(F.size(toks) >= n)
        .select(F.col(domain_col).alias("src"), F.explode(sh_arr).alias("sh"))
        .distinct()
        # pinned once: three consumers (sizes, both self-join sides)
        # each re-ran the scan → explode → distinct-shuffle chain —
        # measured 8 parquet scans / 20 Exchange with zero
        # ReusedExchange in the solo plan. The materialized table is
        # the operator's own declared shuffle volume (per-domain
        # shingle vocabulary), so reading it 3× strictly beats
        # recomputing the distinct shuffle 3×. Lazy: fuses with the
        # first action.
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("source_a"),
                 F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("src").alias("source_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("src").alias("source_b"),
                      F.col("n_sh").alias("n_b"))
    pairs = sa.crossJoin(sb).filter(F.col("source_a") < F.col("source_b"))
    inter_n = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        pairs.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            inter_n.cast("bigint").alias("n_common"),
            F.round(
                inter_n / (F.col("n_a") + F.col("n_b") - inter_n), 6
            ).alias("jaccard"),
        )
    )


def bm25_topk(df: DataFrame, queries: list[tuple[str, str]],
              id_col: str = "doc_id", text: str = "text",
              k: int = 5, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-k documents per query string —
    the lexical sibling of the embedding ANN path (cosine_topk /
    ivfpq_topk) and the scoring backbone of every search engine.
    Lucene's positive-idf variant: idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: the corpus-side artifacts — the map-combined
    (doc, term) tf with its per-doc dl window (bounded by a doc's
    distinct terms), the vocab-sized df table, and the one-row (N,
    avgdl) stats — are the OFFLINE INDEX: in production they are built
    once (or incrementally) and persisted, never recomputed per query;
    this function recomputes them inline only because the fixture
    contract is a self-contained query. The ONLINE path is the cheap
    part and is shaped right here: query terms broadcast, the
    vocab-sized df table broadcasts (never a shuffle join on the hot
    stopword key), stats cross-join broadcast, and scoring is one
    map-side join over the tf rows followed by a (qid, doc) agg.
    Per-term scores round to 6 before an exact decimal sum
    (engine-order-independent); ranking uses the rounded score with an
    id tiebreak, so top-k is total-ordered.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    toks = F.split(F.col(text), " ")
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    enr = tf.withColumn("dl", F.sum("tf").over(W.partitionBy(id_col)))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = df.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum(F.size(toks)) / F.count(F.lit(1))).alias("_avgdl"),
    )
    qt = spark.createDataFrame(queries, "qid string, qtext string").select(
        "qid", F.explode(F.split(F.col("qtext"), " ")).alias("term")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    tfcomp = (
        F.col("tf") * F.lit(k1 + 1.0)
        / (F.col("tf")
           + F.lit(k1) * (F.lit(1.0 - b)
                          + F.lit(b) * F.col("dl") / F.col("_avgdl")))
    )
    scored = (
        enr.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", id_col, F.round(idf * tfcomp, 6).alias("s"))
        .groupBy("qid", id_col)
        .agg(
            F.round(
                F.sum(F.col("s").cast("decimal(38,6)")).cast("double"), 6
            ).alias("score")
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _cms_hash_arr(tok: Column, d: int, w: int) -> Column:
    """The d (row, bucket) probes for one token — md5-derived so every
    engine (and every micro-batch) buckets identically."""
    def bucket(r: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(r)), tok)), 1, 8
                ), 16, 10
            ).cast("bigint") % w
        )

    return F.array(*[
        F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
        for r in range(d)
    ])


def cms_sketch(df: DataFrame, text: str = "text", d: int = 4,
               w: int = 256) -> DataFrame:
    """Build the (r, b, c) count-min sketch over a token stream — the
    mergeable unit: sketches of disjoint batches combine by summing
    counters on (r, b), which is what makes CMS the streaming /
    pre-aggregation frequency artifact (asserted by the foreachBatch
    merge test in tests/test_streaming.py)."""
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    stream = df.select(F.explode(F.split(F.col(text), " ")).alias("t"))
    return (
        stream.select(F.explode(_cms_hash_arr(F.col("t"), d, w)).alias("x"))
        .select(F.col("x.r").alias("r"), F.col("x.b").alias("b"))
        .groupBy("r", "b").agg(F.count(F.lit(1)).alias("c"))
    )


def cms_heavy_hitters(df: DataFrame, text: str = "text", d: int = 4,
                      w: int = 256, k: int = 20) -> DataFrame:
    """Count-min-sketch heavy hitters: the top-``k`` corpus tokens by
    exact count, with the CMS frequency estimate alongside — completing
    the sketch family (HLL distinct in a18, approx-percentile in a21).
    The sketch is d rows × w counters keyed by md5-derived buckets, so
    BOTH engines build bit-identical sketches and the estimates are
    oracle-EXACT, not band-checked. overcount = est − exact ≥ 0 by the
    CMS guarantee (E[overcount] ≤ token_stream/w per collision row).

    Scale shape: the SKETCH is the production artifact — one
    map-combined shuffle of at most d·w keys (collisions collapse
    map-side; no hot-key risk because the keyspace IS d·w), and it is
    MERGEABLE (counters add), which is why CMS is the streaming /
    pre-aggregation answer to token frequency at 100 TB. The exact
    branch (one groupBy over the token stream) exists only for the
    diagnostic comparison; estimation probes derive from the
    vocab-sized exact table in-row (no third corpus pass) and join the
    broadcast sketch.
    """
    from pyspark.sql import Window as W

    stream = df.select(F.explode(F.split(F.col(text), " ")).alias("t"))
    hash_arr = _cms_hash_arr(F.col("t"), d, w)
    sketch = cms_sketch(df, text, d, w)
    exact = stream.groupBy("t").agg(F.count(F.lit(1)).alias("exact_c"))
    probes = exact.select("t", "exact_c", F.explode(hash_arr).alias("x")) \
        .select("t", "exact_c", F.col("x.r").alias("r"),
                F.col("x.b").alias("b"))
    est = (
        probes.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("t", "exact_c")
        .agg(F.min("c").alias("cms_est"))
    )
    # top-k via orderBy+limit (plans as TakeOrdered: per-partition
    # top-k, driver merges k rows per partition) — never a global
    # row_number window over the 10^8+-row distinct-token table; the
    # rank window then runs over the k-row result, bounded by
    # construction (the llm_reservoir_sample pattern)
    top = est.orderBy(F.desc("exact_c"), F.asc("t")).limit(k)
    win = W.orderBy(F.desc("exact_c"), F.asc("t"))
    return (
        top.withColumn("rank", F.row_number().over(win).cast("bigint"))
        .select(
            F.col("t").alias("token"),
            F.col("exact_c").cast("bigint").alias("exact_c"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_c")).cast("bigint")
            .alias("overcount"),
            "rank",
        )
    )


def pmi_collocations(df: DataFrame, text: str = "text", min_count: int = 5,
                     k: int = 20) -> DataFrame:
    """Collocation mining: top-``k`` adjacent word pairs by pointwise
    mutual information, PMI = log2(N·c12 / (c1·c2)) — the phrase-mining
    signal ("new york"-style units) that seeds tokenizer merges and
    multi-word dictionary entries. A ``min_count`` floor removes the
    classic PMI pathology (rare pairs score arbitrarily high).

    N = total bigram positions; c1/c2 = the word's occurrences as
    left/right member of any bigram; c12 = the pair's count. All four
    are counts over the SAME bigram stream, so the estimate is
    self-consistent (no off-by-one from document edges).

    Scale shape: bigrams in-row (zip_with), ONE map-combined count to
    the vocab²-bounded pair table, eagerly checkpointed so both
    consumers (the marginal windows and the corpus-total scalar) read
    the materialized counts — still exactly one corpus scan (the same
    no-per-branch-re-scan discipline as lm_score / domain_divergence,
    plan-asserted). The word marginals c1/c2 are windows PARTITIONED
    by the word (vocab-way parallel); the corpus total N is a plain
    agg broadcast back via crossJoin — never a whole-table window
    through one partition. Top-k plans as TakeOrdered (orderBy+limit)
    with the rank window over the k-row result. PMI rounds to 6 (one
    libm log2 absorbed) and ranking uses the rounded score with a
    pair tiebreak, so top-k is total-ordered and engine-identical.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.col(text), " ")
    bgs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    c12 = (
        df.select(F.explode(bgs).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ).localCheckpoint(eager=True)
    tot = c12.agg(F.sum("c12").cast("bigint").alias("_n"))
    marked = (
        c12.withColumn("c1", F.sum("c12").over(W.partitionBy("w1")))
        .withColumn("c2", F.sum("c12").over(W.partitionBy("w2")))
        .crossJoin(F.broadcast(tot))
    )
    # cast each factor to double BEFORE multiplying: the int64 products
    # N·c12 and c1·c2 overflow at web scale (N ~ 1e14 tokens), while
    # double products are exact-factor IEEE multiplies — deterministic
    # in both engines and never wrap
    pmi = F.round(
        F.log2(
            (F.col("_n").cast("double") * F.col("c12").cast("double"))
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    scored = (
        marked.filter(F.col("c12") >= min_count)
        .select(
            "w1", "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            pmi.alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(k)
    win = W.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(win).cast("bigint"))


def batch_by_length(df: DataFrame, id_col: str = "doc_id",
                    text: str = "text", bucket_width: int = 16,
                    batch_size: int = 8) -> DataFrame:
    """Length-bucketed inference batching: assign documents to fixed-
    size batches of similar token length so per-batch padding (every
    sequence pads to its batch max) stays small — the serving-side
    counterpart of sequence_packing (which concatenates for training;
    this groups for batched inference). Emits the batch address and
    the exact padding each doc pays, so total padding is auditable.

    All arithmetic is integer (token counts, integer division, window
    row numbers, max) — oracle-EXACT with no rounding anywhere.
    Assignment is a pure function of (n_tokens, id): stable across
    runs, engines, and repartitioning.

    Scale shape: one window shuffle partitioned by length bucket
    (buckets are the parallelism unit; a giant bucket sub-salts on an
    id-hash range exactly like domain_token_cap's hot-domain escape).
    Everything before the window is a map-side JVM expression.
    """
    from pyspark.sql import Window as W

    nt = F.size(F.split(F.col(text), " ")).cast("bigint")
    d = df.select(F.col(id_col), nt.alias("n_tokens"))
    b = d.withColumn("bucket", F.expr(f"n_tokens div {bucket_width}"))
    w = W.partitionBy("bucket").orderBy("n_tokens", id_col)
    ba = b.withColumn(
        "batch_id",
        F.expr(f"(row_number() over (partition by bucket "
               f"order by n_tokens, {id_col}) - 1) div {batch_size}")
        .cast("bigint"),
    )
    wb = W.partitionBy("bucket", "batch_id")
    return ba.select(
        id_col, "n_tokens", "bucket", "batch_id",
        F.max("n_tokens").over(wb).alias("batch_max"),
        (F.max("n_tokens").over(wb) - F.col("n_tokens")).cast("bigint")
        .alias("padding"),
    )


def token_entropy(df: DataFrame, id_col: str = "doc_id",
                  text: str = "text") -> DataFrame:
    """Per-document unigram token entropy in bits — the information-
    density quality signal: H = -Σ p·log2(p) over the doc's token
    distribution. Low entropy flags repetitive/templated text from the
    distributional side (complements repetition_stats' ratio cuts);
    near-random token soup shows up as entropy ≈ log2(vocab), so the
    normalized form (H / log2(n_distinct)) reads as "how close to
    uniform", a standard boilerplate/gibberish dial in corpus curation.

    Oracle determinism: each per-token term is rounded to 9 decimals
    BEFORE aggregation (absorbs ≤1-ulp libm log2 skew between engines),
    then summed as decimal so reduction order can't move the total —
    the same order-independence trick as lm_score / domain_divergence.
    norm_entropy is a division of two already-rounded terms, rounded
    again at 6; single-token-vocab docs emit 0.0 by convention.

    Scale shape: ONE corpus scan, one explode + map-combined
    (doc_id, token) count — partial aggregation collapses within-doc
    repetition before any shuffle — then the per-doc total via a
    window over the count table (one further exchange of DISTINCT
    (doc, token) rows onto doc_id — never the token instances — which
    the final per-doc aggregation then reuses). Zero joins; every
    shuffle's volume is distinct keys, not tokens.
    """
    from pyspark.sql import Window as W

    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    wc = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("t"))
        .groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    )
    wc = wc.withColumn("n", F.sum("c").over(W.partitionBy(id_col)))
    p = F.col("c") / F.col("n")
    per_doc = wc.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(
            F.sum(F.round(-p * F.log2(p), 9).cast("decimal(38,9)"))
            .cast("double"),
            6,
        ).alias("entropy_bits"),
    )
    return per_doc.select(
        id_col, "n_tok", "n_distinct", "entropy_bits",
        F.when(
            F.col("n_distinct") > 1,
            F.round(
                F.col("entropy_bits")
                / F.round(F.log2(F.col("n_distinct").cast("double")), 9),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("norm_entropy"),
    )


def pps_sample(df: DataFrame, id_col: str = "doc_id",
               text: str = "text") -> DataFrame:
    """Probability-proportional-to-size (PPS) Bernoulli sampling:
    include each document with probability n_tokens / max(n_tokens) —
    which makes every TOKEN equally likely to survive, the principled
    way to subsample a corpus under a token budget without biasing
    toward short documents (uniform doc sampling over-weights short
    docs' tokens; PPS is the docs-side correction).

    Fully deterministic and oracle-EXACT: the uniform draw is a
    32-bit md5 prefix of the id (the train_split convention, never
    rand()) and the acceptance test is pure int64 arithmetic —
    u · max_nt < n_tokens · 2³² — with no division, no libm, no
    rounding anywhere. Products stay below 2⁵² for any document under
    ~2²⁰ tokens, so the comparison is exact in both engines.

    Scale shape: one scan computes token counts; the corpus max is a
    scalar aggregate CROSS-JOINED back (broadcast of one row — the
    single-pass-total discipline, never a second scan or a
    single-partition window); the accept decision is a per-row JVM
    expression. Zero data shuffles beyond the scalar's trivial
    reduce.
    """
    nt = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text), " ")).cast("bigint").alias("n_tokens"),
    )
    mx = nt.agg(F.max("n_tokens").alias("max_nt"))
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
    )
    return (
        nt.crossJoin(F.broadcast(mx))
        .select(
            F.col(id_col),
            "n_tokens",
            "max_nt",
            u.alias("u"),
            (u * F.col("max_nt")
             < F.col("n_tokens") * F.lit(4294967296)).alias("accept"),
        )
    )


def bpe_train(df: DataFrame, text: str = "text", k: int = 6,
              emit: str = "merges") -> DataFrame:
    """Train ``k`` byte-pair-encoding merges on the corpus (Sennrich et
    al. 2016): start from characters (plus a ``</w>`` end-of-word
    marker), repeatedly count adjacent symbol pairs weighted by word
    frequency and merge the most frequent pair. Returns the learned
    merge table — (merge_rank, lhs, rhs, pair_count) — which IS the
    tokenizer artifact a training pipeline ships.

    Scale shape — the reason distributed BPE trainers exist: the corpus
    is scanned ONCE to build the distinct-word count table; all ``k``
    merge rounds then run over that VOCAB-SIZED table (millions of rows
    at 100 TB, never the corpus). Each round is one map-combined pair
    count plus an argmax LIMIT 1 (a single driver row per round — the
    same inherent per-iteration sync as pointer-jumping CC) and a
    per-row two-pass string replace. The word table is re-checkpointed
    every round to cut the iterative lineage.

    ``emit="merges"`` returns the merge table; ``emit="vocab"`` returns
    the post-merge SEGMENTED vocabulary — (w, f, n_syms, seg) — i.e.
    the trained tokenizer APPLIED to every corpus word, which is what
    the encoding stage of a pipeline consumes.

    Determinism (and hence oracle parity): symbols are space-delimited
    in a sentinel-padded string; applying a merge is ``replace`` run
    TWICE — the first pass takes the odd occurrences of a chain (the
    trailing delimiter of a match is consumed, hiding the immediately
    following occurrence), the second pass takes the rest, which
    reproduces greedy left-to-right BPE application exactly (property:
    ``aaa`` + merge (a,a) → [aa, a], never [a, aa]). Argmax ties break
    on (count desc, lhs asc, rhs asc) — identical in both engines.
    """
    cur, best_tables = _bpe_chain(df, text, k)
    if emit == "vocab":
        return _bpe_vocab(cur)
    return _bpe_merges(best_tables)


def _bpe_chain(df: DataFrame, text: str,
               k: int) -> tuple[DataFrame, list[DataFrame]]:
    """The shared BPE training chain: the checkpointed word table after
    all ``k`` merge rounds plus the per-round 1-row best-pair tables.
    r14 job-shape (guide §1.2): the per-round driver argmax collect()
    is gone. Each round's best pair stays a broadcast 1-row DataFrame
    LEFT-JOINed back on TRUE (the word table passes through unchanged
    when pair counts exhaust early — the oracle's s{i} CTE is this
    exact shape, comment included), so all k merge rounds plan into
    ONE lazy computation instead of k collect-then-rebuild driver
    syncs. A mid-loop eager checkpoint bounds the doubled-subtree
    growth (s{i} references s{i-1} twice: the pair-count branch and
    the pass-through branch). Per-round work is unchanged — same pair
    counts, same argmax tie-break, same two-pass replace — so the
    outputs are bit-identical to the collect-per-round form."""
    words = (
        df.select(F.explode(F.split(F.col(text), " ")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    syms = F.concat(
        F.lit(" "), F.concat_ws(" ", F.split(F.col("w"), "")), F.lit(" </w> ")
    )
    cur = words.select("w", "f", syms.alias("s")).localCheckpoint(eager=True)
    best_tables: list[DataFrame] = []
    for rank in range(1, k + 1):
        arr = F.split(F.trim(F.col("s")), " ")
        prs = F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda x, y: F.struct(x.alias("l"), y.alias("r")),
        )
        pc = (
            cur.select("f", F.explode(prs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("f").alias("c"))
        )
        best = pc.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(1)
        best_tables.append(best)
        pat = F.concat(
            F.lit(" "), F.col("l"), F.lit(" "), F.col("r"), F.lit(" ")
        )
        rep = F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" "))
        cur = (
            cur.join(F.broadcast(best), F.lit(True), "left")
            .select(
                "w", "f",
                F.when(F.col("l").isNull(), F.col("s"))
                .otherwise(
                    F.replace(F.replace(F.col("s"), pat, rep), pat, rep)
                )
                .alias("s"),
            )
        )
        if rank % 3 == 0 and rank < k:
            cur = cur.localCheckpoint(eager=True)
    return cur, best_tables


def _bpe_vocab(cur: DataFrame) -> DataFrame:
    """bpe_train(emit='vocab') projection over the final word table."""
    return cur.select(
        "w", "f",
        F.size(F.split(F.trim(F.col("s")), " ")).cast("bigint")
        .alias("n_syms"),
        F.trim(F.col("s")).alias("seg"),
    )


def _bpe_merges(best_tables: list[DataFrame]) -> DataFrame:
    """bpe_train(emit='merges') union over the per-round best rows."""
    out = None
    for rank, best in enumerate(best_tables, 1):
        row = best.select(
            F.lit(rank).cast("bigint").alias("merge_rank"),
            F.col("l").alias("lhs"),
            F.col("r").alias("rhs"),
            F.col("c").cast("bigint").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def bpe_train_artifacts(
    df: DataFrame, text: str = "text", k: int = 6
) -> tuple[DataFrame, DataFrame]:
    """ONE training chain, BOTH artifacts: ``(merges, vocab)`` exactly
    as two separate ``bpe_train`` calls with ``emit='merges'`` /
    ``'vocab'`` would return them — but trained once (r14, guide §1.2:
    the suite that verifies train / apply / measure as three rows was
    re-running the identical training per member). The vocabulary is
    eagerly checkpointed (vocab-sized — the corpus scan collapses at
    the chain head) so every consumer reads the materialized table."""
    cur, best_tables = _bpe_chain(df, text, k)
    vocab = _bpe_vocab(cur).localCheckpoint(eager=True)
    return _bpe_merges(best_tables), vocab


def tokenizer_fertility(df: DataFrame, k: int = 6,
                        id_col: str = "doc_id",
                        text: str = "text",
                        vocab: DataFrame | None = None) -> DataFrame:
    """Tokenizer fertility per document: average BPE symbols per word
    under the ``k``-merge tokenizer trained on this corpus by
    :func:`bpe_train` — THE standard tokenizer-quality dial (fertility
    near 1 = vocabulary fits the corpus; high fertility = the domain
    is fragmenting into characters, e.g. unseen scripts or code).
    Train-then-measure runs as one computation, so the driver oracle
    verifies the full pipeline: merge training, vocabulary
    segmentation, and the per-document rollup.

    Scale shape: bpe_train's corpus scan collapses to a VOCAB-sized
    segmentation table, which then broadcasts back against the token
    stream — one explode + one broadcast join + one per-doc agg; no
    shuffle keyed on anything larger than doc_id."""
    if vocab is None:
        vocab = bpe_train(df, k=k, text=text, emit="vocab")
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("w")
    )
    return (
        words.join(F.broadcast(vocab.select("w", "n_syms")), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_syms"),
            F.round(
                F.sum("n_syms") / F.count(F.lit(1)), 6
            ).alias("fertility"),
        )
    )


def zipf_slope(df: DataFrame, group_col: str = "lang",
               text: str = "text", top_n: int = 100) -> DataFrame:
    """Zipf rank-frequency slope per corpus slice — the standard
    vocabulary-health diagnostic (natural language sits near −1;
    boilerplate/template farms flatten the curve, OCR noise and spam
    steepen it), used to flag drifted or machine-generated sources
    before they enter a training mix.

    OLS of ln(freq) on ln(rank) over the ``top_n`` most frequent
    words of each slice: slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²).
    Oracle-deterministic: ln values are rounded to 9 decimals at the
    source, products to 6, and every Σ is an exact decimal sum (the
    qutil convention), so the closed-form division runs on bit-equal
    doubles in both engines.

    Scale shape: word counting is a map-combined aggregation (shuffle
    = distinct (slice, word) keys, not token instances); the top-n
    window sorts only each slice's VOCABULARY (≪ corpus, bounded by
    language vocabulary size); the regression reduces each slice to
    one row. No joins, no O(corpus) shuffle.
    """
    from pyspark.sql import Window as W

    from datawarehouse_spark.queries.qutil import dsum

    df = widen_narrow_input(df)  # guide §2.5: one-split sources must not map on one core
    words = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text), " ")).alias("w"),
    )
    wc = words.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("c"))
    rk = F.row_number().over(
        W.partitionBy("grp").orderBy(F.desc("c"), F.asc("w"))
    )
    ranked = wc.withColumn("r", rk).filter(F.col("r") <= top_n)
    x = F.round(F.log(F.col("r").cast("double")), 9)
    y = F.round(F.log(F.col("c").cast("double")), 9)
    terms = ranked.select(
        "grp",
        x.alias("x"),
        y.alias("y"),
        F.round(x * y, 6).alias("xy"),
        F.round(x * x, 6).alias("xx"),
    )
    agg = terms.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dsum("x", 9).alias("sx"),
        dsum("y", 9).alias("sy"),
        dsum("xy", 6).alias("sxy"),
        dsum("xx", 6).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return agg.filter(F.col("n_terms") >= 2).select(
        F.col("grp").alias(group_col),
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6)
        .alias("zipf_intercept"),
    )


def source_mix_sample(df: DataFrame, group_col: str = "lang",
                      id_col: str = "doc_id", alpha: float = 0.5,
                      target_frac: float = 0.5) -> DataFrame:
    """Temperature-scaled multinomial source mixing (the mT5 / XLM-R
    pretraining recipe): sample slices with probability proportional
    to count^alpha, so low-resource slices are upweighted relative to
    their raw share while the corpus giants are damped. Each document
    in slice i is kept with probability q_i = min(1, T·p_i/c_i) where
    p_i = c_i^alpha / Σ c_j^alpha and T = target_frac · N — i.e. the
    expected sample hits the temperature-scaled mixture exactly.

    Deterministic and oracle-checkable: the only libm call (pow) is
    rounded to 6 decimals immediately, the weight total is an exact
    decimal sum, and the uniform draw is the 32-bit md5-prefix
    convention (never rand()), so the accept comparison runs on
    bit-equal doubles in both engines.

    Scale shape: one map-combined count per slice (a handful of
    rows), broadcast back; the accept decision is a per-row JVM
    expression. Zero data shuffles.
    """
    from datawarehouse_spark.queries.qutil import dsum

    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_grp")
    )
    weights = counts.select(
        "grp", "c_grp",
        F.round(F.pow(F.col("c_grp").cast("double"), F.lit(alpha)), 6)
        .alias("w_grp"),
    )
    tot = weights.agg(
        dsum("w_grp", 6).alias("w_tot"),
        F.sum("c_grp").alias("n_docs"),
    )
    q = F.round(
        F.least(
            F.lit(1.0),
            (F.lit(target_frac) * F.col("n_docs").cast("double")
             * F.col("w_grp"))
            / (F.col("w_tot") * F.col("c_grp").cast("double")),
        ),
        9,
    )
    per = weights.crossJoin(F.broadcast(tot)).select(
        "grp", "c_grp", "w_grp", q.alias("q")
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
    )
    return (
        df.select(F.col(id_col), F.col(group_col).alias("grp"))
        .join(F.broadcast(per), "grp")
        .select(
            F.col(id_col),
            F.col("grp").alias(group_col),
            "c_grp",
            "w_grp",
            "q",
            (u.cast("double") < F.col("q") * F.lit(4294967296.0))
            .alias("accept"),
        )
    )


def quality_calibration(df: DataFrame, fit_group: str = "en",
                        group_col: str = "lang", id_col: str = "doc_id",
                        text: str = "text", tau: float = 0.05) -> DataFrame:
    """Fit-on-slice / score-corpus quality calibration — the
    distributed-ML serving shape behind fastText-style quality
    filters: fit a tiny model on a trusted slice, broadcast the
    coefficients, score every document in one pass. Here the model is
    a closed-form OLS of stopword_ratio on ln(n_tokens) over the
    ``fit_group`` slice; documents whose residual exceeds ``tau``
    in absolute value are flagged as quality outliers (their
    stopword density is unexplained by length — template spam or
    keyword stuffing in real corpora).

    Oracle-deterministic like :func:`zipf_slope`: rounded-at-source
    ln and ratio, decimal-summed normal equations, so slope and
    intercept are bit-equal doubles in both engines and every
    residual comparison agrees.

    Scale shape: the fit is one map-combined aggregation over the
    slice reduced to ONE broadcast row; scoring is a per-row JVM
    expression on the corpus scan. No shuffle keyed on the corpus.
    """
    from datawarehouse_spark.queries.qutil import dsum

    nt = n_tokens(text)
    feats = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        nt.alias("n_tok"),
        F.round(F.log(nt.cast("double")), 9).alias("x"),
        F.round(stopword_hits(text, "en") / nt, 9).alias("y"),
    )
    ft = feats.filter(F.col("grp") == fit_group).select(
        "x", "y",
        F.round(F.col("x") * F.col("y"), 6).alias("xy"),
        F.round(F.col("x") * F.col("x"), 6).alias("xx"),
    )
    fit = ft.agg(
        F.count(F.lit(1)).cast("double").alias("n_fit"),
        dsum("x", 9).alias("sx"),
        dsum("y", 9).alias("sy"),
        dsum("xy", 6).alias("sxy"),
        dsum("xx", 6).alias("sxx"),
    ).select(
        "n_fit",
        ((F.col("n_fit") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n_fit") * F.col("sxx") - F.col("sx") * F.col("sx")))
        .alias("b"),
        "sx", "sy",
    ).select(
        "n_fit", "b",
        ((F.col("sy") - F.col("b") * F.col("sx")) / F.col("n_fit"))
        .alias("a"),
    )
    resid = F.round(F.col("y") - (F.col("a") + F.col("b") * F.col("x")), 6)
    return feats.crossJoin(F.broadcast(fit)).select(
        F.col(id_col),
        F.col("grp").alias(group_col),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("y").alias("stop_ratio"),
        F.round(F.col("b"), 6).alias("slope"),
        F.round(F.col("a"), 6).alias("intercept"),
        resid.alias("resid"),
        (F.abs(resid) > F.lit(tau)).alias("is_outlier"),
    )


def curriculum_phases(df: DataFrame, n_phases: int = 4,
                      n_blocks: int | None = None, id_col: str = "doc_id",
                      text: str = "text",
                      lm_scored: DataFrame | None = None) -> DataFrame:
    """Perplexity-ordered curriculum phasing: rank every scoreable
    document by corpus-trained bigram-LM perplexity (easy → hard, the
    curriculum-learning recipe) and cut the GLOBAL rank into
    ``n_phases`` contiguous phases — phase 1 is the cleanest quarter
    of the corpus, the last phase the noisiest. Docs with no bigrams
    (single-token) are unscoreable and excluded; the caller decides
    their phase by policy.

    Phase formula: ``(rank−1)·n_phases div N + 1`` — contiguous
    near-equal cuts, integer arithmetic (deliberately NOT SQL NTILE,
    whose extra-row placement rule differs; this formula is identical
    in both engines). The global rank uses the block-offset pattern
    (range partitions on the unique (ppl, doc_id) key + broadcast
    prefix counts — rank invariant to block boundaries), never a
    single-partition window; N is a scalar aggregate broadcast back.

    Scale shape: the LM scoring is :func:`lm_score`'s one map-combined
    bigram pass; ranking adds one range shuffle of (id, ppl, counts)
    rows — no shuffle carries text.
    """
    from datawarehouse_spark.operators.rank import global_rank

    # ``lm_scored`` lets a suite that ALSO verifies the raw lm_score
    # output feed the same (caller-materialized) scored table here —
    # one LM build + scoring pass instead of two (r14 suite fusion)
    scored = (
        (lm_scored if lm_scored is not None
         else lm_score(df, id_col=id_col, text=text))
        .filter(F.col("n_bigrams") > 0)
        .select(
            F.col(id_col),
            "n_bigrams",
            "ppl",
            (F.col("n_bigrams") + 1).cast("bigint").alias("n_tok"),
        )
    )
    ranked = global_rank(
        scored,
        [F.asc("ppl"), F.asc(id_col)],
        n_blocks=n_blocks,
        rank_col="rank",
        total_col="_n",
    )
    return ranked.withColumn(
        "phase",
        F.expr(f"(rank - 1) * {int(n_phases)} div _n + 1").cast("bigint"),
    ).drop("_n")

