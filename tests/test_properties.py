"""Property tests (hypothesis): the engine's equivalence claims hold on
arbitrary data, not just the fixtures.

Each property mirrors a rewrite the reference asserts is
result-identical (SURVEY §5.2): salting/splitting must be semantically
invisible, two-phase aggregation must equal one-phase, UNION must equal
UNION ALL + distinct. Examples are kept small (Spark job per example).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datawarehouse_spark.operators import skew

KEYS = st.integers(min_value=0, max_value=5)
VALS = st.integers(min_value=-100, max_value=100)

ROWS = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=40)
SMALL = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=8)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, rows, cols):
    schema = ", ".join(f"{c} long" for c in cols)
    return spark.createDataFrame([tuple(r) for r in rows], schema)


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


@given(big=ROWS, small=SMALL)
@_SETTINGS
def test_salted_join_invisible(spark, big, small):
    """J6: full-expansion salted join ≡ plain inner join."""
    b = _df(spark, big, ["k", "v"])
    s = _df(spark, small, ["k", "w"])
    plain = b.join(s, "k")
    salted = skew.salted_join(b, s, "k", n_salt=4)
    assert _rowset(salted.select("k", "v", "w")) == _rowset(
        plain.select("k", "v", "w")
    )


@given(big=ROWS, small=SMALL, threshold=st.integers(min_value=1, max_value=10))
@_SETTINGS
def test_split_skew_join_invisible(spark, big, small, threshold):
    """J5: hot/cold split + salt ≡ plain inner join, at any threshold."""
    b = _df(spark, big, ["k", "v"])
    s = _df(spark, small, ["k2", "w"])
    plain = b.join(s, F.col("k") == F.col("k2"))
    split = skew.split_skew_join(b, s, "k", "k2", hot_threshold=threshold, n_salt=3)
    assert _rowset(split.select("k", "v", "w")) == _rowset(
        plain.select("k", "v", "w")
    )


@given(rows=ROWS)
@_SETTINGS
def test_salted_agg_equals_plain(spark, rows):
    """A11: two-phase salted aggregation ≡ one-phase (count and sum)."""
    df = _df(spark, rows, ["k", "v"])
    plain = _rowset(
        df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,2)")).cast("double").alias("s"),
        )
    )
    two_phase = _rowset(
        skew.salted_agg(df, ["k"], {"n": ("count", "*"), "s": ("sum", "v")}, n_salt=4)
    )
    assert two_phase == plain


@given(a=ROWS, b=ROWS)
@_SETTINGS
def test_union_distinct_equals_union_all_dedup(spark, a, b):
    """U2: UNION ≡ UNION ALL → distinct (the reference's cost warning
    is about performance, never results)."""
    da = _df(spark, a, ["k", "v"])
    db = _df(spark, b, ["k", "v"])
    assert _rowset(da.union(db).distinct()) == _rowset(
        da.unionAll(db).dropDuplicates()
    )


@given(rows=ROWS)
@_SETTINGS
def test_window_sum_equals_groupby_join(spark, rows):
    """W5: whole-partition window sum ≡ groupBy + join-back (the
    reference's decomposition pair, docs/HiveSQL.md:95-157)."""
    from pyspark.sql import Window as W

    df = _df(spark, rows, ["k", "v"])
    win = df.withColumn("t", F.sum("v").over(W.partitionBy("k")))
    agg = df.groupBy("k").agg(F.sum("v").alias("t"))
    dec = df.join(agg, "k")
    assert _rowset(win.select("k", "v", "t")) == _rowset(dec.select("k", "v", "t"))


# as-of join: (key, time) pairs; right deduped per (key, time) by construction
ASOF_LEFT = st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=30)),
    min_size=0, max_size=25,
)
ASOF_RIGHT = st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=30), VALS),
    min_size=0, max_size=25,
    unique_by=lambda r: (r[0], r[1]),
)


@given(left=ASOF_LEFT, right=ASOF_RIGHT)
@_SETTINGS
def test_asof_join_equals_bruteforce(spark, left, right):
    """asof_join (union-window form) ≡ the brute-force definition:
    per left row, the right row with the greatest rt <= lt on the key."""
    from datawarehouse_spark.operators.temporal import asof_join

    if not left:
        return
    l = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, lt long, lid long"
    )
    r = spark.createDataFrame(
        [(k, t, v) for k, t, v in right] or [(None, None, None)],
        "k long, rt long, rv long",
    ).filter(F.col("k").isNotNull())
    got = {
        row["lid"]: (row["rv"], row["rt"])
        for row in asof_join(l, r, "k", "lt", "rt").collect()
    }
    rmap: dict[int, list[tuple[int, int]]] = {}
    for k, t, v in right:
        rmap.setdefault(k, []).append((t, v))
    expect = {}
    for i, (k, t) in enumerate(left):
        prior = [(rt, rv) for rt, rv in rmap.get(k, []) if rt <= t]
        expect[i] = max(prior)[::-1] if prior else (None, None)
    assert got == expect


PAIRS = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=15,
)


@given(pairs=PAIRS)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_dedup_clusters_equals_union_find(spark, pairs):
    """Min-label propagation ≡ union-find connected components with
    min-id canonical labels, on arbitrary pair graphs."""
    from datawarehouse_spark.operators.dedup import dedup_clusters

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expect = {n: min(ns) for ns in comp.values() for n in ns}

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["canonical_id"] for r in dedup_clusters(df).collect()}
    assert got == expect


@given(rows=ROWS, thr=st.integers(min_value=-100, max_value=100))
@_SETTINGS
def test_union_aggs_single_scan_equals_naive(spark, rows, thr):
    """§4.1 rewrite: one-scan branch-tagged aggregation ≡ UNION ALL of
    per-branch filtered aggregations, for any data and any threshold
    (including branches matching zero rows, which must vanish from both
    forms identically)."""
    from datawarehouse_spark.plans.rewrite import union_aggs_single_scan

    df = _df(spark, rows, ["k", "v"])
    branches = {
        "all": F.lit(True),
        "hi": F.col("v") > thr,
        "lo": F.col("v") <= thr,
    }
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")]
    fused = union_aggs_single_scan(df, branches, ["k"], aggs)

    naive = None
    for tag, pred in branches.items():
        b = (
            df.filter(pred).groupBy("k").agg(*aggs)
            .select(F.lit(tag).alias("branch"), "k", "n", "s")
        )
        naive = b if naive is None else naive.unionAll(b)
    assert _rowset(fused) == _rowset(naive)


TOKENS = st.lists(
    st.sampled_from(["aa", "b", "ccc", "d1", "e"]), min_size=0, max_size=30
)


@given(
    docs=st.lists(TOKENS, min_size=1, max_size=6),
    chunk=st.integers(min_value=1, max_value=8),
    stride_off=st.integers(min_value=0, max_value=7),
)
@_SETTINGS
def test_chunk_documents_equals_python_reference(spark, docs, chunk, stride_off):
    """chunk_documents ≡ the obvious per-doc Python chunker for any
    (chunk_tokens, stride <= chunk_tokens) and any token content,
    including empty docs (split('') -> [''] -> one 1-token chunk)."""
    from datawarehouse_spark.operators import text as T

    stride = max(1, min(chunk, stride_off))
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.chunk_id, r.tok_start, r.tok_end, r.chunk_text,
         r.n_chunk_tokens)
        for r in T.chunk_documents(
            df, chunk_tokens=chunk, stride=stride
        ).collect()
    )
    want = []
    for i, (_, txt) in enumerate(rows):
        toks = txt.split(" ")
        for start in range(0, len(toks), stride):
            # skip chunks fully contained in the previous chunk
            if start != 0 and start + (chunk - stride) >= len(toks):
                continue
            end = min(start + chunk, len(toks))
            want.append(
                (i, start // stride, start, end,
                 " ".join(toks[start:end]), end - start)
            )
    assert got == sorted(want)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 3),
                  st.integers(1, 50), st.integers(100, 999)),
        min_size=1, max_size=40,
    ),
    brands=st.sets(st.integers(0, 4), min_size=1, max_size=3),
)
@_SETTINGS
def test_q17_window_avg_equals_aggregate_join(spark, rows, brands):
    """The Q17 single-scan form is only sound because the part filter
    admits WHOLE partkey groups: the windowed per-partkey average over
    the brand-filtered join must equal the aggregate-then-join average
    computed over the full table. If someone adds a lineitem-level
    filter before the window, this property breaks loudly."""
    from pyspark.sql import Window as W

    li = _df(spark, [(pk, 0, q, p) for pk, _, q, p in rows],
             ["l_partkey", "pad", "l_quantity", "l_extendedprice"])
    part = spark.createDataFrame(
        [(pk, f"B{pk % 5}") for pk in range(5)],
        "p_partkey long, p_brand string",
    ).filter(F.col("p_brand").isin([f"B{b}" for b in brands]))

    w = W.partitionBy("l_partkey")
    window_form = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .withColumn(
            "avg_qty",
            F.sum(F.col("l_quantity").cast("decimal(38,2)")).over(w)
            .cast("double") / F.count("l_quantity").over(w),
        )
        .select("l_partkey", "l_quantity", "avg_qty")
    )
    agg_form = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            (F.sum(F.col("l_quantity").cast("decimal(38,2)")).cast("double")
             / F.count("l_quantity")).alias("avg_qty")
        )
        .join(li.join(part, F.col("p_partkey") == F.col("l_partkey")),
              F.col("pk") == F.col("l_partkey"))
        .select("l_partkey", "l_quantity", "avg_qty")
    )
    assert _rowset(window_form) == _rowset(agg_form)


# --- differential tests for the corpus-statistics operators: random
# corpora vs pure-Python references (counts exact; scores within the
# documented rounding tolerance: per-term round-6/9 before exact sums)

TOKENS = st.sampled_from(["a", "b", "c", "d"])
DOCS = st.lists(
    st.lists(TOKENS, min_size=1, max_size=8), min_size=1, max_size=10
)
_SLOW = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(docs=DOCS)
@_SLOW
def test_pmi_equals_python_reference(spark, docs):
    import math
    from collections import Counter

    from datawarehouse_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    out = {(r["w1"], r["w2"]): r
           for r in pmi_collocations(df, min_count=1, k=10**6).collect()}

    c12 = Counter()
    for d in docs:
        for x, y in zip(d, d[1:]):
            c12[(x, y)] += 1
    if not c12:
        assert not out
        return
    n = sum(c12.values())
    c1 = Counter(); c2 = Counter()
    for (x, y), c in c12.items():
        c1[x] += c; c2[y] += c
    assert set(out) == set(c12)
    for (x, y), c in c12.items():
        r = out[(x, y)]
        assert (r["c12"], r["c1"], r["c2"]) == (c, c1[x], c2[y])
        ref = math.log2((n * c) / (c1[x] * c2[y]))
        assert abs(r["pmi"] - ref) <= 5.1e-7, ((x, y), r["pmi"], ref)


@given(docs=DOCS)
@_SLOW
def test_domain_kl_equals_python_reference(spark, docs):
    import math
    from collections import Counter

    from datawarehouse_spark.operators.text import domain_divergence

    # round-robin docs over up to 3 domains
    rows = [(f"s{i % 3}", " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in domain_divergence(df).collect()}

    per = {}
    for s, t in rows:
        per.setdefault(s, Counter()).update(t.split(" "))
    corpus = Counter()
    for c in per.values():
        corpus.update(c)
    n = sum(corpus.values())
    assert set(out) == set(per)
    for s, c in per.items():
        ns = sum(c.values())
        ref = sum((v / ns) * (math.log2(v / ns) - math.log2(corpus[t] / n))
                  for t, v in c.items())
        r = out[s]
        assert r["n_tok"] == ns and r["n_vocab"] == len(c)
        assert abs(r["kl_bits"] - ref) <= 1e-6, (s, r["kl_bits"], ref)


@given(docs=DOCS)
@_SLOW
def test_lm_score_equals_python_reference(spark, docs):
    import math
    from collections import Counter

    from datawarehouse_spark.operators.text import lm_score

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_score(df).collect()}

    c2 = Counter()
    for d in docs:
        for x, y in zip(d, d[1:]):
            c2[(x, y)] += 1
    c1 = Counter()
    for (x, _), c in c2.items():
        c1[x] += c
    v = len({y for (_, y) in c2})
    for i, d in enumerate(docs):
        bgs = list(zip(d, d[1:]))
        r = out[i]
        assert r["n_bigrams"] == len(bgs)
        if not bgs:
            assert r["avg_logp"] is None and r["ppl"] is None
            continue
        ref = sum(
            math.log2((c2[b] + 1) / (c1[b[0]] + v)) for b in bgs
        ) / len(bgs)
        assert abs(r["avg_logp"] - ref) <= 1.1e-6, (i, r["avg_logp"], ref)
        assert abs(r["ppl"] - 2 ** -ref) <= abs(2 ** -ref) * 1e-5


# --- BPE two-pass replace ≡ greedy left-to-right merge application ---

SYMS = st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0,
                max_size=12)
MERGE = st.sampled_from([("a", "a"), ("a", "b"), ("b", "a"), ("ab", "c"),
                         ("c", "c"), ("b", "b")])


def _greedy_merge(s: list[str], l: str, r: str) -> list[str]:
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


@given(syms=SYMS, merge=MERGE)
@_SETTINGS
def test_bpe_two_pass_replace_is_greedy_merge(spark, syms, merge):
    """bpe_train applies a merge as replace() run twice on the
    space-delimited symbol string; that must equal greedy left-to-right
    pair merging for ANY symbol chain — including odd/even repeat
    chains ('a a a') and symbols that are themselves prior merges
    ('ab'). This is the exact semantics the oracle relies on."""
    l, r = merge
    s = " " + " ".join(syms) + " " if syms else " "
    pat, rep = f" {l} {r} ", f" {l}{r} "
    got = (
        spark.range(1)
        .select(
            F.replace(
                F.replace(F.lit(s), F.lit(pat), F.lit(rep)),
                F.lit(pat), F.lit(rep),
            ).alias("s")
        )
        .collect()[0]
        .s
    )
    assert got.split() == _greedy_merge(syms, l, r)


SIZES = st.lists(
    st.integers(min_value=1, max_value=5000), min_size=1, max_size=40
)


@given(sizes=SIZES, shard_kib=st.integers(min_value=1, max_value=8))
@_SETTINGS
def test_shard_pack_equals_python_greedy(spark, sizes, shard_kib):
    """shard_pack on arbitrary size ledgers equals the sequential
    Python reference: md5-sort, running total, shard by start
    offset — for any shard budget and any block count."""
    import hashlib

    from datawarehouse_spark.operators.multimodal import shard_pack

    S = shard_kib * 1024
    ledger = spark.createDataFrame(
        [(i + 1, int(s)) for i, s in enumerate(sizes)],
        "media_id long, est_bytes long",
    )
    got = {
        r.media_id: (r.cum_bytes, r.shard)
        for r in shard_pack(ledger, shard_bytes=S, n_blocks=3).collect()
    }
    order = sorted(
        enumerate(sizes),
        key=lambda t: (hashlib.md5(str(t[0] + 1).encode()).hexdigest(),
                       t[0] + 1),
    )
    cum = 0
    want = {}
    for i, s in order:
        cum += s
        want[i + 1] = (cum, (cum - s) // S)
    assert got == want


@given(
    ppls=st.lists(st.integers(min_value=1, max_value=50),
                  min_size=1, max_size=40),
    n_phases=st.integers(min_value=1, max_value=5),
)
@_SETTINGS
def test_curriculum_phase_formula_equals_python(spark, ppls, n_phases):
    """The rank → phase cut equals the Python reference on arbitrary
    score multisets (ties broken by id). The operator's distributed
    rank path is pinned separately by the block-invariance test in
    test_llm_ops.py; this property pins the phase FORMULA itself
    under heavy ties and tiny/degenerate phase counts."""
    from pyspark.sql import Window as W

    rows = [(i + 1, float(p)) for i, p in enumerate(ppls)]
    df = spark.createDataFrame(rows, "doc_id long, ppl double")
    n = len(rows)
    w = W.orderBy("ppl", "doc_id")
    ranked = df.withColumn("rank", F.row_number().over(w))
    got = {
        r.doc_id: ((r.rank - 1) * n_phases) // n + 1
        for r in ranked.collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    want = {
        d: (idx * n_phases) // n + 1
        for idx, (d, _) in enumerate(order)
    }
    assert got == want
    assert set(got.values()) <= set(range(1, n_phases + 1))


# --- join-cardinality estimation: the containment assumption's known
# regimes, on arbitrary data ---------------------------------------------

CARD_KEYS = st.integers(min_value=0, max_value=9)


@given(fk=st.lists(CARD_KEYS, min_size=1, max_size=60))
@_SETTINGS
def test_join_cardinality_exact_on_pk_fk(spark, fk):
    """PK-FK joins are estimated EXACTLY by containment regardless of
    fact-side skew: with the dim side unique, n_b = ndv_b per bucket,
    so n_a·n_b/max(ndv_a, ndv_b) = n_a = the true join size."""
    from datawarehouse_spark.operators.layout import join_cardinality_stats

    a = _df(spark, [(k, 0) for k in fk], ["k", "v"])
    b = _df(spark, [(k, 0) for k in range(10)], ["pk", "v"])
    out = join_cardinality_stats(a, b, "k", "pk", n_buckets=4).collect()
    for r in out:
        assert r.true_rows == r.est_rows, r
        assert r.rel_err in (0.0, None), r


def test_join_cardinality_rel_err_lights_up_on_mismatched_skew(spark):
    """m:n joins with OPPOSITE concentration break containment — the
    estimate spreads a's hot key over every b key in the bucket. This
    is the regime rel_err exists to expose (the signal that a static
    plan needs AQE)."""
    from datawarehouse_spark.operators.layout import join_cardinality_stats

    # a: 99 rows of key 0, 1 row of key 3; b: 1 row of key 0, 99 of key 3
    a = _df(spark, [(0, 0)] * 99 + [(3, 0)], ["k", "v"])
    b = _df(spark, [(0, 0)] + [(3, 0)] * 99, ["k", "v"])
    out = join_cardinality_stats(a, b, "k", "k", n_buckets=1).collect()
    assert len(out) == 1
    r = out[0]
    # true = 99·1 + 1·99 = 198; est = 100·100/2 = 5000
    assert r.true_rows == 198, r
    assert r.est_rows == 5000.0, r
    assert r.rel_err > 20, r


def test_count_distinct_split_equals_expand_plan(spark):
    """SURVEY §7.3 risk 3: the per-distinct split rewrite must equal
    Spark's expand-based multi-count-distinct exactly, including the
    NULL semantics the r9 advisor caught the old full-outer form
    getting wrong: a group whose distinct columns are ALL NULL must
    still emit its (0, 0, ...) row (the key spine anchors it), and a
    NULL group key is ONE group (null-safe join), never a split pair
    of partial rows."""
    from datawarehouse_spark.operators.skew import count_distinct_split

    rows = [
        ("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"),
        ("b", 3, None), ("b", 3, None),       # b has 0 distinct v
        ("c", None, "z"),                     # c has 0 distinct u
        ("d", None, None), ("d", None, None),  # ALL distinct cols NULL
        (None, 7, "q"), (None, None, "q"),     # NULL group key
    ]
    df = spark.createDataFrame(rows, "k string, u int, v string")
    expand = {
        r["k"]: (r["ndu"], r["ndv"])
        for r in df.groupBy("k").agg(
            F.countDistinct("u").alias("ndu"),
            F.countDistinct("v").alias("ndv"),
        ).collect()
    }
    out = count_distinct_split(df, ["k"], ["u", "v"]).collect()
    split = {r["k"]: (r["nd_u"], r["nd_v"]) for r in out}
    assert len(out) == len(split), "duplicate group-key rows in split"
    assert expand == split == {
        "a": (2, 2), "b": (1, 0), "c": (0, 1), "d": (0, 0), None: (1, 1),
    }

    # and on a real fixture slice with multiple group keys
    from datawarehouse_spark.catalog import load_tables
    from tests.conftest import SF_ORACLE

    ev = load_tables(spark, SF_ORACLE, ("events",))["events"]
    want = {
        r["event_type"]: (r["ndu"], r["nde"])
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("ndu"),
            F.countDistinct("event_id").alias("nde"),
        ).collect()
    }
    got = {
        r["event_type"]: (r["nd_user_id"], r["nd_event_id"])
        for r in count_distinct_split(
            ev, ["event_type"], ["user_id", "event_id"]
        ).collect()
    }
    assert want == got


# --- recursive hierarchy: path-doubling closure ≡ recursive CTE -----

# forests encoded as (parent_choice, cents) per node i: parent is
# parent_choice % i for i ≥ 1 (acyclic by construction), NULL when
# the draw is negative — mixes deep chains, wide stars and multi-root
# forests
FOREST = st.lists(
    st.tuples(st.integers(min_value=-3, max_value=1000),
              st.integers(min_value=-9999, max_value=9999)),
    min_size=1, max_size=24,
)

_HIER_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)


@given(forest=FOREST)
@_HIER_SETTINGS
def test_hierarchy_doubling_matches_recursive_cte(spark, duck, forest):
    """hierarchy_stats (O(log d) path doubling) must equal the genuine
    WITH RECURSIVE closure on arbitrary forests — chains, stars,
    multi-root mixes, single nodes."""
    from datawarehouse_spark.operators.graph import (
        hierarchy_oracle_sql, hierarchy_stats,
    )

    rows = []
    for i, (pc, cents) in enumerate(forest):
        parent = None if (i == 0 or pc < 0) else pc % i
        rows.append((i, parent, cents / 100.0))
    nodes = spark.createDataFrame(rows, "k long, p long, val double")
    got = sorted(tuple(r) for r in hierarchy_stats(nodes).collect())

    vals = ", ".join(
        f"({k}, {'NULL' if p is None else p}, {v!r})" for k, p, v in rows
    )
    cte = (
        "nodes AS (SELECT CAST(k AS BIGINT) AS k, CAST(p AS BIGINT) AS p,"
        " CAST(val AS DOUBLE) AS val"
        f" FROM (VALUES {vals}) AS t(k, p, val))"
    )
    want = sorted(tuple(r) for r in
                  duck.execute(hierarchy_oracle_sql(cte)).fetchall())
    assert got == want


@given(ids=st.lists(st.integers(min_value=0, max_value=500),
                    min_size=0, max_size=60))
@_SETTINGS
def test_bitmap_distinct_equals_count_distinct(spark, ids):
    """The 62-bit bitmap-word rollup (a24) is EXACT: Σ popcount over
    OR-merged words equals COUNT(DISTINCT) on arbitrary non-negative
    id multisets (incl. ids sharing a word, word boundaries, empty)."""
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    words = (
        df.select(
            F.expr("user_id div 62").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bm"))
    )
    uv = words.agg(F.sum(F.expr("bit_count(bm)"))).first()[0] or 0
    assert uv == len(set(ids))


def test_hll_sketch_union_estimate_differs_from_direct(spark):
    """Pinned OPERATIONAL GOTCHA (r9): Spark 4's Datasketches HLL is
    mergeable (the rollup algebra a18/a24 rely on), but the estimate
    from UNIONING per-group sketches is NOT bit-identical to sketching
    the whole input directly — the union gadget's internal state
    differs from the directly-built sketch. Both stay inside the
    documented relative-error envelope; pipelines materializing
    per-partition sketches (the 100 TB pattern) must therefore expect
    rollup estimates to differ slightly from a direct pass, and
    exact-consistency requirements belong to a24's bitmap words, not
    HLL. (a18 covers the error bound vs exact; this pins the
    merge-vs-direct non-identity that surprises people.)"""
    from pyspark.sql import functions as F

    df = spark.range(0, 10000).select(
        (F.col("id") % 1500).alias("uid"), (F.col("id") % 7).alias("g")
    )
    merged = (
        df.groupBy("g").agg(F.hll_sketch_agg("uid").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    # coalesce(1): one partial sketch over the whole input. Without it
    # the "direct" sketch is itself a union of per-partition partials,
    # and whether it lands on the merged estimate depends on how many
    # partitions local[N] happens to split the range into
    direct = df.coalesce(1).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("uid")).alias("e")
    ).first()["e"]
    assert merged != direct  # the pinned non-identity
    assert abs(merged - 1500) / 1500 < 0.02
    assert abs(direct - 1500) / 1500 < 0.02


# --- distributed global-order primitives ≡ single-partition brute force


@given(rows=st.lists(VALS, min_size=1, max_size=40),
       n_blocks=st.integers(min_value=1, max_value=6),
       n_tile=st.integers(min_value=1, max_value=7))
@_SETTINGS
def test_global_rank_and_ntile_equal_brute_force(spark, rows, n_blocks, n_tile):
    """rank.py's range-partitioned global rank must equal the trivially
    correct single-partition enumeration for ANY block count (the
    sampled range boundaries move; the rank must not), and
    ntile_from_rank must equal the exact ANSI NTILE assignment —
    including N < n (empty tail buckets) and heavy duplicate values
    (the unique id tiebreak carries the total order)."""
    from datawarehouse_spark.operators.rank import (
        global_rank,
        ntile_from_rank,
    )

    df = _df(spark, list(enumerate(rows)), ["id", "v"])
    got = {
        r["id"]: (r["grn"], r["nt"])
        for r in global_rank(
            df, [F.desc("v"), F.asc("id")],
            n_blocks=n_blocks, total_col="_n",
        ).withColumn("nt", ntile_from_rank("grn", "_n", n_tile)).collect()
    }
    order = sorted(enumerate(rows), key=lambda t: (-t[1], t[0]))
    n = len(order)
    q, r = divmod(n, n_tile)
    want = {}
    for rank0, (i, _) in enumerate(order):
        # ANSI NTILE: first r buckets hold q+1 rows
        if rank0 < r * (q + 1):
            b = rank0 // (q + 1) + 1
        else:
            b = r + (rank0 - r * (q + 1)) // q + 1
        want[i] = (rank0 + 1, b)
    assert got == want


@given(rows=st.lists(VALS, min_size=1, max_size=40),
       n_blocks=st.integers(min_value=1, max_value=6))
@_SETTINGS
def test_global_cumsum_equals_brute_force(spark, rows, n_blocks):
    """rank.py's distributed running sum must equal
    SUM(v) OVER (ORDER BY ...) computed by plain Python, for ANY block
    count — the block-offset lift may never double-count or skip a
    block boundary, including negative values and duplicates."""
    from datawarehouse_spark.operators.rank import global_cumsum

    df = _df(spark, list(enumerate(rows)), ["id", "v"])
    got = {
        r["id"]: r["cum"]
        for r in global_cumsum(
            df, [F.asc("v"), F.asc("id")], "v", n_blocks=n_blocks
        ).collect()
    }
    run, want = 0, {}
    for i, v in sorted(enumerate(rows), key=lambda t: (t[1], t[0])):
        run += v
        want[i] = run
    assert got == want


def test_global_rank_autosizes_blocks_to_session_parallelism(spark):
    """With n_blocks omitted the primitives must size the range stage
    from the SESSION's shuffle parallelism (resolve_n_blocks), not a
    fixed constant — the r10 verdict's one systemic scale nit: a
    hard-coded 8 keeps the per-block sort 8-way-parallel at any data
    size. The output partition count is observable because the
    broadcast offset join adds no exchange over the checkpointed
    range blocks."""
    import pytest

    from datawarehouse_spark.operators.rank import (
        MAX_AUTO_BLOCKS,
        global_rank,
        resolve_n_blocks,
    )

    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(50_000).withColumn("v", F.col("id") % 997)
    assert resolve_n_blocks(df) == min(conf, MAX_AUTO_BLOCKS)
    assert resolve_n_blocks(df, 3) == 3  # explicit wins
    with pytest.raises(ValueError):
        resolve_n_blocks(df, 0)

    out = global_rank(df, [F.asc("v"), F.asc("id")])
    live = (
        out.withColumn("_p", F.spark_partition_id())
        .select("_p").distinct().count()
    )
    # every configured range block is non-empty at 50k rows >> blocks
    assert live == min(conf, MAX_AUTO_BLOCKS)
    # and the rank is still the exact global enumeration
    n = out.count()
    assert out.agg(F.min("grn"), F.max("grn")).first() == (1, n)


def test_block_offsets_two_level_lift_matches_brute_force(spark):
    """r12 (r11 ask #7): past ONE_LEVEL_MAX_BLOCKS block_offsets takes
    the two-level lift (√n super-blocks triangular + same-super-block
    predecessors) — its exclusive prefix sums must be bit-identical to
    the brute-force python scan, including for sparse/non-contiguous
    block ids and at non-square counts (off-by-one territory of the
    ⌈√n⌉ grouping)."""
    import random

    from datawarehouse_spark.operators.rank import (
        ONE_LEVEL_MAX_BLOCKS,
        block_offsets,
    )

    rng = random.Random(12)
    # n_blocks just over the threshold and deliberately non-square;
    # sparse ids (gaps) prove the lift doesn't assume contiguity
    n = ONE_LEVEL_MAX_BLOCKS + 37
    ids = sorted(rng.sample(range(3 * n), 500))
    cnts = [rng.randrange(0, 10**6) for _ in ids]
    cnt = spark.createDataFrame(
        list(zip(ids, cnts)), "_blk long, _c long"
    )
    got = {
        r["_blk"]: r["_off"]
        for r in block_offsets(cnt, n_blocks=n, total_col="tot").collect()
    }
    run, want = 0, {}
    for b, c in zip(ids, cnts):
        want[b] = run
        run += c
    assert got == want
    tot = block_offsets(cnt, n_blocks=n, total_col="tot") \
        .select("tot").distinct().collect()
    assert [r["tot"] for r in tot] == [sum(cnts)]


def test_global_rank_past_one_level_threshold(spark):
    """global_rank with an explicit n_blocks above ONE_LEVEL_MAX_BLOCKS
    (the old hard cap) routes through the two-level lift end-to-end and
    still produces the exact global enumeration — the r11 escape hatch
    is now a first-class path, no manual override semantics."""
    from datawarehouse_spark.operators.rank import (
        ONE_LEVEL_MAX_BLOCKS,
        global_rank,
    )

    df = spark.range(6_000).withColumn("v", (F.col("id") * 37) % 4999)
    out = global_rank(
        df, [F.asc("v"), F.asc("id")],
        n_blocks=ONE_LEVEL_MAX_BLOCKS + 100,
    ).collect()
    got = {r["id"]: r["grn"] for r in out}
    order = sorted(((r["v"], r["id"]) for r in out))
    want = {vid: i + 1 for i, (_, vid) in enumerate(order)}
    assert got == want


def test_global_rank_rejects_internal_column_collisions(spark):
    """Input frames already carrying an internal working name must be
    refused loudly — a silent withColumn overwrite + drop would
    corrupt caller data without error (ADVICE r10)."""
    import pytest

    from datawarehouse_spark.operators.rank import global_cumsum, global_rank

    df = spark.range(10).withColumn("_blk", F.lit(1))
    with pytest.raises(ValueError, match="_blk"):
        global_rank(df, [F.asc("id")])
    df2 = spark.range(10).withColumn("_cum_in", F.lit(1))
    with pytest.raises(ValueError, match="_cum_in"):
        global_cumsum(df2, [F.asc("id")], "_cum_in")


# --- r13: first-fit-decreasing packing vs a pure-Python reference ---

FFD_LENS = st.lists(st.integers(min_value=0, max_value=30),
                    min_size=1, max_size=24)


def _ffd_reference(lens: dict[int, int], budget: int, group_size: int):
    """Literal first-fit-decreasing, the sequential textbook form:
    sort by (tokens DESC, id), cut into rank-contiguous groups, and
    within each group place every item into the lowest-numbered bin
    with room, else open a new one. Returns {id: (global_bin, load)}."""
    order = sorted(lens, key=lambda i: (-lens[i], i))
    out = {}
    for g in range(0, len(order), group_size):
        bins: list[int] = []
        members: list[list[int]] = []
        for i in order[g:g + group_size]:
            for b, load in enumerate(bins):
                if load + lens[i] <= budget:
                    bins[b] += lens[i]
                    members[b].append(i)
                    break
            else:
                bins.append(lens[i])
                members.append([i])
        grp = g // group_size
        for b, ids in enumerate(members):
            for i in ids:
                out[i] = (grp * group_size + b, bins[b])
    return out


@given(lens=FFD_LENS,
       budget=st.integers(min_value=1, max_value=40),
       group_size=st.integers(min_value=2, max_value=9))
@_SETTINGS
def test_ffd_packing_matches_sequential_reference(spark, lens, budget,
                                                  group_size):
    """llm_ffd_packing's distributed unroll (block-offset global rank +
    fixed per-slot stages) must reproduce the SEQUENTIAL textbook FFD
    bit-for-bit on arbitrary inputs — including ties (same length →
    id order), items larger than the budget (own bin), zero-length
    items, and partial final groups."""
    from datawarehouse_spark.operators import text as T

    rows = [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(lens)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_load"])
        for r in T.ffd_packing(docs, budget=budget,
                               group_size=group_size).collect()
    }
    want = _ffd_reference(dict(enumerate(lens)), budget, group_size)
    assert got == want
