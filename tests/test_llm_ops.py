"""Semantic checks for the probabilistic / UDF-backed LLM operators
(the ones the DuckDB oracle can't express)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_spark.catalog import load_tables
from datawarehouse_spark.operators import dedup, similarity
from tests.conftest import SF_ORACLE


def test_lsh_candidates_recall_on_high_jaccard(spark):
    """Banded MinHash must recover the vast majority of very-near dups
    (jaccard ≥ 0.8 → P(candidate) = 1-(1-s²)⁴ ≥ 0.98 per pair)."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    sig = dedup.minhash_signature(docs, k=8)
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidates(sig, k=8, band_size=2).collect()
    }
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    if truth:
        recall = len(cand & truth) / len(truth)
        assert recall >= 0.8, f"LSH recall {recall} over {len(truth)} true pairs"


def test_simhash_near_dup_hamming(spark):
    """Near-dup docs (3-gram jaccard ≥ 0.8) should have close SimHashes;
    random doc pairs should not."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    sim = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()

    def ham(a, b):
        return bin(a ^ b).count("1")

    for r in pairs:
        assert ham(sim[r.doc_a], sim[r.doc_b]) <= 16, (r.doc_a, r.doc_b)
    # determinism: recompute and compare
    sim2 = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert sim == sim2


def test_ann_lsh_subset_of_exact_scores(spark):
    """Every ANN hit must carry the same cosine the exact ranker assigns,
    and per-query results stay within bucket (recall may be < 1)."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.q_id, r.n_id): r.cos
        for r in similarity.cosine_topk(emb, queries, k=500).collect()
    }
    ann = similarity.ann_topk_lsh(emb, queries, k=5, n_planes=4).collect()
    assert len(ann) > 0
    for r in ann:
        assert abs(exact[(r.q_id, r.n_id)] - r.cos) < 1e-9


def test_ivf_topk_scores_exact_and_recall(spark):
    """IVF hits carry the exact cosine, and probing 4/16 cells recovers
    a solid fraction of the true top-5 (clustered fixture → the true
    neighbors live in the probed cells)."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact_all = {
        (r.q_id, r.n_id): r.cos
        for r in similarity.cosine_topk(emb, queries, k=500).collect()
    }
    true_top5 = {
        (r.q_id, r.n_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    ivf = similarity.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4).collect()
    assert len(ivf) > 0
    for r in ivf:
        assert abs(exact_all[(r.q_id, r.n_id)] - r.cos) < 1e-9
    hits = {(r.q_id, r.n_id) for r in ivf}
    recall = len(hits & true_top5) / len(true_top5)
    assert recall >= 0.4, f"IVF recall@5 = {recall}"


def test_ivf_topk_grid_recall_and_engine_parity(spark):
    """The oracle-checkable grid IVF (driver-gated since r9) keeps the
    recall properties of the spherical variant, carries exact cosines,
    and its two assignment engines produce identical results."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact_all = {
        (r.q_id, r.n_id): r.cos
        for r in similarity.cosine_topk(emb, queries, k=500).collect()
    }
    true_top5 = {
        (r.q_id, r.n_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    g = similarity.ivf_topk_grid(
        emb, queries, k=5, n_cells=8, n_probe=2
    ).collect()
    assert len(g) > 0
    for r in g:
        assert abs(exact_all[(r.q_id, r.n_id)] - r.cos) < 1e-9
    hits = {(r.q_id, r.n_id) for r in g}
    recall = len(hits & true_top5) / len(true_top5)
    assert recall >= 0.4, f"grid IVF recall@5 = {recall}"
    s = similarity.ivf_topk_grid(
        emb, queries, k=5, n_cells=8, n_probe=2, impl="sql"
    ).collect()
    assert {(r.q_id, r.n_id, r.cos, r.rank) for r in g} == {
        (r.q_id, r.n_id, r.cos, r.rank) for r in s
    }


def test_ivfpq_topk_grid_recall_and_exactness(spark):
    """The grid IVF-PQ (driver-gated r9): hits carry the exact cosine
    (the shortlist re-rank restores the cosine contract over the
    euclidean ADC on grid-normalized components), recall vs the true
    top-5 matches the FAISS-shaped variant's on this fixture (0.44 vs
    0.40, coarse bound 0.64), and k=5 rows per query come back."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact_all = {
        (r.q_id, r.n_id): r.cos
        for r in similarity.cosine_topk(emb, queries, k=500).collect()
    }
    true_top5 = {
        (r.q_id, r.n_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    pq = similarity.ivfpq_topk_grid(
        emb, queries, k=5, n_cells=8, n_probe=4, m=8, ksub=16,
        shortlist=8,
    ).collect()
    assert len(pq) == 25  # 5 queries × k
    for r in pq:
        assert abs(exact_all[(r.q_id, r.n_id)] - r.cos) < 1e-9
    hits = {(r.q_id, r.n_id) for r in pq}
    recall = len(hits & true_top5) / len(true_top5)
    assert recall >= 0.4, f"grid IVF-PQ recall@5 = {recall}"


def test_embed_near_dup_pairs_symmetric_threshold(spark):
    """cosine_pairs returns exactly the ≥-threshold pairs the exact
    ranker scores, each once with id_a < id_b."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    pairs = similarity.cosine_pairs(emb, threshold=0.42).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.cos >= 0.42


def test_simhash_pairs_contain_high_jaccard_dups(spark):
    """SimHash bit-slice bucketing + Hamming-8 verify recovers the
    very-near dups (jaccard ≥ 0.8 pairs sit within a few flipped bits —
    see test_simhash_near_dup_hamming's ≤16 bound at ≥0.8; here we
    assert the ≤8 core is found and every reported pair verifies)."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    sim = dedup.simhash64(docs)
    pairs = dedup.simhash_near_dup(sim, max_hamming=8).collect()
    sigs = {r.doc_id: r.simhash for r in sim.collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    for r in pairs:
        assert r.hamming == ham(sigs[r.doc_a], sigs[r.doc_b])
        assert r.hamming <= 8
    # full recall at the declared radius: brute-force cross-check
    ids = sorted(sigs)
    truth = {
        (x, y)
        for i, x in enumerate(ids)
        for y in ids[i + 1:]
        if ham(sigs[x], sigs[y]) <= 8
    }
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert got == truth


def test_repetition_stats_single_word_doc(spark):
    """A one-word document has no bigrams: ratios must come back 0.0
    (not null) through the left join, and the word stats stay exact."""
    from datawarehouse_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "hello"), (2, "a b a b a")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    one = rows[1]
    assert one.n_words == 1 and one.n_distinct_words == 1
    assert one.dup_bigram_ratio == 0.0 and one.top_bigram_ratio == 0.0
    assert one.top_word_ratio == 1.0 and one.gopher_fail
    two = rows[2]
    # "a b a b a": 5 words, 2 distinct; bigrams: ab,ba,ab,ba -> 4 total 2 distinct
    assert two.n_words == 5 and two.n_distinct_words == 2
    assert two.dup_word_ratio == 3 / 5 and two.top_word_ratio == 3 / 5
    assert two.dup_bigram_ratio == 2 / 4 and two.top_bigram_ratio == 2 / 4


def test_contamination_disjoint_and_full_overlap(spark):
    """Train docs sharing no shingle with eval score 0.0; an exact eval
    copy scores 1.0; counts are over DISTINCT shingles."""
    from datawarehouse_spark.operators import text

    train = spark.createDataFrame(
        [(1, "w x y z w x y"), (2, "p q r s t u")], ["doc_id", "text"]
    )
    ev = spark.createDataFrame([(9, "p q r s t u")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in
            text.contamination_check(train, ev, n=3).collect()}
    assert rows[1].n_hit == 0 and rows[1].contaminated_frac == 0.0
    assert rows[2].n_hit == rows[2].n_sh and rows[2].contaminated_frac == 1.0
    # distinct: 5 shingle positions in doc 1 but "w x y" repeats -> 4
    assert rows[1].n_sh == 4


def test_semantic_dedup_label_matches_bruteforce(spark):
    """Label-cluster SemDeDup keep decisions equal the brute-force rule:
    keep iff no lower-id same-cluster vector has round(cos,6) >= t."""
    import numpy as np

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    out = {r.vec_id: r for r in
           similarity.semantic_dedup(emb, 0.42, cluster_col="label").collect()}
    rows = emb.collect()
    by_label: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r.vec_id):
        by_label.setdefault(r.label, []).append(r)
    n_drop = 0
    for label, members in by_label.items():
        M = np.array([[float(x) for x in r.embedding] for r in members])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = np.round(M @ M.T, 6)
        for i, r in enumerate(members):
            expect_keep = not (i > 0 and S[i, :i].max() >= 0.42)
            got = out[r.vec_id]
            assert got.keep == expect_keep, (r.vec_id, label)
            assert got.cluster == label
            if i == 0:
                assert got.max_prior_sim is None
            else:
                assert abs(got.max_prior_sim - S[i, :i].max()) < 1e-9
            n_drop += 0 if expect_keep else 1
    assert n_drop > 0  # clustered fixture must actually dedup something


def test_semantic_dedup_kmeans_path_consistent(spark):
    """Production path (k-means cells): decisions are internally
    consistent with the cell assignment the op emits — keep iff no
    lower-id member of the same cell is >= threshold."""
    import numpy as np

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    out = similarity.semantic_dedup(emb, 0.42, cluster_col=None,
                                    n_cells=8).collect()
    assert len(out) == emb.count()  # exactly one decision per vector
    vecs = {r.vec_id: np.array([float(x) for x in r.embedding])
            for r in emb.collect()}
    by_cell: dict[int, list] = {}
    for r in sorted(out, key=lambda r: r.vec_id):
        by_cell.setdefault(r.cluster, []).append(r)
    for cell, members in by_cell.items():
        M = np.array([vecs[r.vec_id] for r in members])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = np.round(M @ M.T, 6)
        for i, r in enumerate(members):
            expect_keep = not (i > 0 and S[i, :i].max() >= 0.42)
            assert r.keep == expect_keep, (r.vec_id, cell)


def test_stratified_sample_rates_and_determinism(spark):
    """Keep fractions land near per-stratum targets, unlisted strata
    default to 1.0, and the decision is repartition-invariant."""
    from datawarehouse_spark.operators import text

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    rates = {"en": 0.30, "zh": 0.80}
    out = text.stratified_sample(docs, rates).collect()
    assert len(out) == docs.count()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r.keep)
    for lang, keeps in by_lang.items():
        frac = sum(keeps) / len(keeps)
        target = rates.get(lang, 1.0)
        assert abs(frac - target) < 0.15, (lang, frac, target)
    for lang in ("de", "es", "fr"):
        assert all(by_lang[lang])  # default rate 1.0 keeps everything
    again = {(r.doc_id, r.keep)
             for r in text.stratified_sample(docs.repartition(13), rates).collect()}
    assert again == {(r.doc_id, r.keep) for r in out}


def test_pii_redact_constructed_examples(spark):
    """Redaction replaces every email/IP/phone with its typed token and
    the counts match; clean text passes through untouched."""
    from datawarehouse_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org and jo@a.io end"),
            (2, "server 192.168.0.1 then 10.0.255.254 done"),
            (3, "call +49 123 4567 or +1 555 012345 now"),
            (4, "perfectly clean text with no identifiers"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.pii_redact(docs).collect()}
    assert rows[1].n_email == 2 and rows[1].n_ip == 0
    assert rows[1].redacted == "mail <EMAIL> and <EMAIL> end"
    assert rows[2].n_ip == 2
    assert rows[2].redacted == "server <IP> then <IP> done"
    assert rows[3].n_phone == 2
    assert rows[3].redacted == "call <PHONE> or <PHONE> now"
    assert rows[4].n_email == rows[4].n_ip == rows[4].n_phone == 0
    assert rows[4].redacted == "perfectly clean text with no identifiers"


def test_corpus_prep_keep_is_conjunction_of_gates(spark):
    """keep == every-upstream-gate AND within_cap, where the token cap
    is budgeted over upstream-surviving docs only: within_cap is NULL
    exactly for docs some other gate already rejected, every doc gets
    one decision, and each gate actually drops documents."""
    from datawarehouse_spark.queries.llm import llm_corpus_prep

    out = llm_corpus_prep(spark, SF_ORACLE).collect()
    docs_n = 500
    assert len(out) == docs_n
    for r in out:
        pre = (
            (not r.is_eval) and r.dedup_keep and r.gopher_ok
            and r.clean and r.quality_ok and r.sampled
        )
        assert (r.within_cap is None) == (not pre)
        assert r.keep == (pre and bool(r.within_cap))
    assert sum(r.is_eval for r in out) == docs_n // 10
    assert any(not r.dedup_keep for r in out)
    assert any(not r.sampled for r in out)
    assert any(not r.quality_ok for r in out)
    assert any(r.within_cap is False for r in out)
    assert any(r.within_cap is True for r in out)
    kept = sum(r.keep for r in out)
    assert 0 < kept < docs_n


def test_incremental_dedup_flags(spark):
    """New docs are flagged against the corpus only: exact copies via
    fingerprint, near-dups via cross-Jaccard; fresh docs keep. New docs
    never flag each other (the in-batch dedup is a separate op)."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # exact copy of 1
            (11, "one two three four five six EIGHT"),     # near-dup of 2
            (12, "totally fresh content nothing shared"),  # clean
            (13, "totally fresh content nothing shared"),  # in-batch dup only
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in
            dedup.incremental_dedup(new, corpus, threshold=0.3).collect()}
    assert rows[10].dup_exact and rows[10].dup_near and not rows[10].keep
    assert not rows[11].dup_exact and rows[11].dup_near and not rows[11].keep
    assert rows[12].keep and not rows[12].dup_exact and not rows[12].dup_near
    # 13 duplicates 12 but both are NEW — incremental op must not flag it
    assert rows[13].keep


def test_dup_span_coverage_fractions(spark):
    """A doc sharing all shingles with a twin has coverage 1; a doc with
    fully unique text has coverage 0; partial overlap lands between."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),            # full twin of 1
            (3, "zz yy xx ww vv"),       # unique
            (4, "a b c qq rr ss"),       # shares shingle "a b c" with 1/2
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in dedup.dup_span_coverage(docs).collect()}
    assert rows[1].dup_frac == 1.0 and rows[2].dup_frac == 1.0
    assert rows[3].dup_frac == 0.0 and rows[3].n_dup == 0
    assert 0.0 < rows[4].dup_frac < 1.0
    assert rows[4].n_dup == 1 and rows[4].n_shingles == 4


def test_global_shuffle_is_a_permutation(spark):
    """Every doc gets exactly one (shard, pos) address; positions are
    dense 1..k per shard; the assignment is seed-stable and changes
    with the seed."""
    from datawarehouse_spark.operators import text as text_ops

    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    out = text_ops.global_shuffle(docs, n_shards=4, seed="s0").collect()
    assert len(out) == 200 and len({r.doc_id for r in out}) == 200
    by_shard: dict = {}
    for r in out:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    again = text_ops.global_shuffle(docs, n_shards=4, seed="s0").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    other = text_ops.global_shuffle(docs, n_shards=4, seed="s1").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))


def test_importance_weights_uniform_target_is_one(spark):
    """If the target IS the whole corpus, n_t[b] == n_c[b] for every
    bucket and N_t == N_c, so every document's likelihood ratio must be
    exactly 1.0 (the formulation is exact-integer, so exactly)."""
    from datawarehouse_spark.operators.text import importance_weights

    d = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    w = importance_weights(d, F.lit(True))
    assert w.filter(F.col("weight") != 1.0).count() == 0
    assert w.count() == d.count()


def test_importance_weights_excludes_nothing_and_favors_target(spark):
    """Every doc gets a weight; docs written in the target language
    weigh at least as much on average as the rest (the hashed-bucket
    model must recover the directional signal)."""
    from datawarehouse_spark.operators.text import importance_weights

    d = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    w = importance_weights(d, F.col("lang") == "en")
    assert w.count() == d.count()
    avg = (
        w.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("weight").alias("aw"))
    )
    rows = {r.is_en: r.aw for r in avg.collect()}
    assert rows[True] > rows[False]


def test_ivfpq_topk_scores_exact_and_recall(spark):
    """IVF-PQ: the emitted hits carry the EXACT cosine (the PQ score is
    only a shortlist pruner; survivors are re-ranked full-precision),
    and the PQ shortlist inside 4/16 probed cells holds enough of the
    true top-5 to match plain IVF's recall bar."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact_all = {
        (r.q_id, r.n_id): r.cos
        for r in similarity.cosine_topk(emb, queries, k=500).collect()
    }
    true_top5 = {
        (r.q_id, r.n_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    pq = similarity.ivfpq_topk(
        emb, queries, k=5, n_cells=16, n_probe=4, m=8, ksub=16
    ).collect()
    assert len(pq) > 0
    for r in pq:
        assert abs(exact_all[(r.q_id, r.n_id)] - r.cos) < 1e-9
    hits = {(r.q_id, r.n_id) for r in pq}
    recall = len(hits & true_top5) / len(true_top5)
    assert recall >= 0.4, f"IVF-PQ recall@5 = {recall}"


def test_pq_codes_are_compact_and_deterministic(spark):
    """PQ encoding emits exactly m codes in [0, ksub) per vector —
    m bytes standing in for dim float32s — and re-training + re-encoding
    reproduces identical codes (no RNG anywhere in the path)."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    books = similarity.pq_train_codebooks(emb, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
    books2 = similarity.pq_train_codebooks(emb, m=8, ksub=16)
    assert (books == books2).all()
    codes2 = {r.n_id: list(r.codes)
              for r in similarity.pq_encode(emb, books2).collect()}
    assert all(codes2[r.n_id] == list(r.codes) for r in codes)

def test_ngram_pairs_persist_path_cleans_up(spark):
    """persist=True materializes the qualifying pairs and drops the
    shingle cache deterministically (no reliance on ContextCleaner);
    results identical to the lazy persist=False path."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    sc = spark.sparkContext._jsc.sc()
    n_before = sc.getPersistentRDDs().size()
    eager = dedup.ngram_jaccard_pairs(docs, threshold=0.8, persist=True)
    n_after = sc.getPersistentRDDs().size()
    assert n_after - n_before <= 1, (n_before, n_after)
    lazy = dedup.ngram_jaccard_pairs(docs, threshold=0.8, persist=False)
    assert (
        {(r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in eager.collect()}
        == {(r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in lazy.collect()}
    )


def test_ivfpq_rejects_non_integral_ids(spark):
    """The cogrouped ADC stage carries ids as int64; string ids must be
    rejected up front, not crash mid-stage."""
    import pytest

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    s = emb.withColumn("vec_id", F.col("vec_id").cast("string"))
    with pytest.raises(TypeError, match="integral id"):
        similarity.ivfpq_topk(s, s.limit(2))


def _write_tiny_embeddings(path, seed_shift):
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    vecs = rng.randn(64, 16).astype("float32") + seed_shift
    tbl = pa.Table.from_pandas(pd.DataFrame({
        "vec_id": np.arange(64, dtype="int64"),
        "embedding": list(vecs),
        "label": np.zeros(64, dtype="int32"),
    }))
    pq.write_table(tbl, path)


def test_ivfpq_index_cache_refreshes_on_inplace_rewrite(spark, tmp_path):
    """The driver regenerates fixtures at the SAME path between rounds:
    a rewritten embeddings.parquet must yield a fresh index (new cache
    key, old entry evicted), never a silently stale one."""
    import numpy as np

    from datawarehouse_spark.queries import llm

    sf = str(tmp_path)
    _write_tiny_embeddings(f"{sf}/embeddings.parquet", 0.0)
    llm.llm_ann_ivfpq_topk(spark, sf).collect()
    keys1 = [k for k in llm._IVFPQ_INDEX if k[0] == sf]
    assert len(keys1) == 1
    cents1, _ = llm._IVFPQ_INDEX[keys1[0]]

    _write_tiny_embeddings(f"{sf}/embeddings.parquet", 3.0)
    spark.catalog.refreshByPath(f"{sf}/embeddings.parquet")
    llm.llm_ann_ivfpq_topk(spark, sf).collect()
    keys2 = [k for k in llm._IVFPQ_INDEX if k[0] == sf]
    assert len(keys2) == 1, "stale entry must be evicted, not accumulated"
    assert keys2[0] != keys1[0]
    cents2, _ = llm._IVFPQ_INDEX[keys2[0]]
    assert not np.allclose(np.array(cents1), np.array(cents2))


def test_ivfpq_cached_path_equals_fresh_index(spark):
    """r14 (VERDICT r13 ask #7): the cached-index IVF-PQ speed variant
    is the one registry-adjacent surface without a DuckDB oracle (its
    index is float-trained by design — see the COVERAGE.md rationale).
    Its replayable reference is the UNCACHED deterministic path: index
    training is md5-sampled + farthest-point-init + fixed-iteration
    Lloyd, so a fresh index from the same data is bit-identical, and
    the cached query's output must equal (1) its own second, cache-hit
    invocation and (2) a direct ivfpq_topk call with a freshly trained
    index under the same parameters — pinning both the cache and the
    search path against a deterministic in-engine oracle."""
    from datawarehouse_spark.operators import similarity
    from datawarehouse_spark.queries import llm

    out1 = sorted(
        map(tuple, llm.llm_ann_ivfpq_topk(spark, SF_ORACLE).collect())
    )
    assert out1, "fixture must produce IVF-PQ results"
    out2 = sorted(
        map(tuple, llm.llm_ann_ivfpq_topk(spark, SF_ORACLE).collect())
    )
    assert out2 == out1  # cache hit replays exactly
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    fresh = similarity.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        k=5, n_cells=16, n_probe=4, m=8, ksub=16,
    )
    assert sorted(map(tuple, fresh.collect())) == out1


def test_importance_weights_n_buckets_consistency(spark):
    """n_buckets drives BOTH the hex-prefix key width and the smoothing
    constant; non-power-of-16 values are rejected (the silent-skew bug
    class), and the 16-bucket path really produces ≤16 buckets."""
    import pytest

    from datawarehouse_spark.operators.text import importance_weights

    d = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    with pytest.raises(ValueError, match="power of 16"):
        importance_weights(d, F.col("lang") == "en", n_buckets=100)
    w16 = importance_weights(d, F.col("lang") == "en", n_buckets=16)
    assert w16.count() == d.count()
    # coarser model, same signal: target-domain docs still weigh more
    avg = (
        w16.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("weight").alias("aw"))
    )
    rows = {r.is_en: r.aw for r in avg.collect()}
    assert rows[True] > rows[False]

def test_dup_span_remove_cuts_shared_boilerplate_only(spark):
    """Synthetic corpus: two docs share an injected boilerplate run,
    each has unique text around it. The kept ranges must excise exactly
    the tokens covered by corpus-frequent shingles (the boilerplate and
    nothing else), keep fully-unique docs whole, and emit nothing for a
    fully-duplicated doc."""
    boiler = "all rights reserved contact us today"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta epsilon zeta"),
            (2, f"one two three four {boiler} five six seven"),
            (3, "totally unique text with no duplicated spans at all"),
            (4, boiler),
            (5, boiler),
        ],
        "doc_id long, text string",
    )
    rows = dedup.dup_span_kept_ranges(docs, n=3, min_df=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_kept))
    # doc 1: tokens 0-2 kept, 3-8 boilerplate cut, 9-11 kept
    assert sorted(by_doc[1]) == [(0, 2, 3), (9, 11, 3)]
    # doc 2: tokens 0-3 kept, 4-9 cut, 10-12 kept
    assert sorted(by_doc[2]) == [(0, 3, 4), (10, 12, 3)]
    # unique doc survives as ONE whole span
    assert by_doc[3] == [(0, 8, 9)]
    # fully-duplicated docs emit no kept ranges
    assert 4 not in by_doc and 5 not in by_doc


def test_chunk_documents_reconstructs_corpus(spark):
    """Stride == chunk_tokens (no overlap) must partition every document
    exactly: concatenating a doc's chunks in chunk_id order rebuilds its
    text, and token ranges tile [0, n_tokens) without gaps."""
    from datawarehouse_spark.operators import text as T

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    chunks = T.chunk_documents(docs, chunk_tokens=16, stride=16)
    rebuilt = (
        chunks.orderBy("doc_id", "chunk_id")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
                .getField("chunk_text")
            ).alias("rebuilt"),
            F.sum("n_chunk_tokens").alias("tok_total"),
            F.max("tok_end").alias("tok_max"),
        )
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    bad = rebuilt.filter(
        (F.col("rebuilt") != F.col("text"))
        | (F.col("tok_total") != F.col("tok_max"))
    ).count()
    assert bad == 0


def test_chunk_documents_overlap_and_validation(spark):
    """Overlapping chunks repeat stride-offset prefixes; bad strides
    raise before any job runs."""
    import pytest

    from datawarehouse_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    rows = {
        r.chunk_id: r
        for r in T.chunk_documents(docs, chunk_tokens=4, stride=2).collect()
    }
    # start grid 0,2,4,6,8 — the chunk at 8 ([8,10)) is fully contained
    # in the chunk at 6 ([6,10)) and must be dropped, not emitted
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w2 w3 w4 w5"
    assert rows[3].chunk_text == "w6 w7 w8 w9" and rows[3].n_chunk_tokens == 4
    with pytest.raises(ValueError):
        T.chunk_documents(docs, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError):
        T.chunk_documents(docs, chunk_tokens=4, stride=0)


def test_domain_token_cap_budget_and_floor(spark):
    """Every domain admits at least one document; admitted tokens before
    each kept doc stay under the cap; drops resume nothing (keep is a
    prefix of the md5 order); rerun is byte-identical."""
    from datawarehouse_spark.operators import text as T

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    capped = T.domain_token_cap(docs, cap_tokens=100)
    per_domain = capped.groupBy("source").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    assert per_domain.filter(F.col("n_keep") < 1).count() == 0
    # kept rows all satisfy the admission rule; dropped rows all violate it
    assert capped.filter(F.col("keep") & (F.col("cum_before") >= 100)).count() == 0
    assert capped.filter(~F.col("keep") & (F.col("cum_before") < 100)).count() == 0
    # deterministic rerun
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, T.domain_token_cap(docs, cap_tokens=100).collect()))
    assert a == b


def test_quality_filter_keeps_top_band_per_source(spark):
    """Per-source keep counts must match the percent-rank band exactly
    (total order → n_keep = |{i : (i-1)/(n-1) < keep_frac}|), and kept
    docs must dominate dropped ones on score within each source."""
    from datawarehouse_spark.operators import text as T

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    out = T.quality_percentile_filter(docs, keep_frac=0.8)
    per = out.groupBy("source").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(F.col("keep"), F.col("score"))).alias("min_kept"),
        F.max(F.when(~F.col("keep"), F.col("score"))).alias("max_dropped"),
    )
    for r in per.collect():
        expected = sum(
            1 for i in range(r.n) if r.n == 1 or i / (r.n - 1) < 0.8
        )
        assert r.n_keep == expected, (r.source, r.n_keep, expected)
        if r.max_dropped is not None:
            assert r.min_kept >= r.max_dropped


def test_lsh_buckets_infer_dim_not_hardcoded(spark):
    """Non-64-dim embeddings must spread across buckets: a wrong plane
    length null-pads every projection and collapses ALL vectors into
    one bucket (silently O(n²)). dim is probed from the data now."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    buckets = {
        r.bucket
        for r in similarity.hyperplane_lsh_buckets(df, n_planes=6).collect()
    }
    assert len(buckets) > 1, "all 32-dim vectors fell into one bucket"


def test_simhash_slices_never_degenerate_or_wrap(spark):
    """n_slices values whose naive i*width offsets land on bit 63 (one
    all-zero shared bucket → O(n²)) or past it (mod-64 wrap → recall
    loss) must still partition bits 0..62 correctly: results equal the
    n_slices=9 reference for every radius-8 pair, and no slice bucket
    holds every document."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    sim = dedup.simhash64(docs)
    ref = {(r.doc_a, r.doc_b)
           for r in dedup.simhash_near_dup(sim, max_hamming=8,
                                           n_slices=9).collect()}
    for n_slices in (10, 43):
        got = {(r.doc_a, r.doc_b)
               for r in dedup.simhash_near_dup(sim, max_hamming=8,
                                               n_slices=n_slices).collect()}
        assert got == ref, f"n_slices={n_slices} changed the pair set"
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        # width 32 → only 2 effective slices; cannot cover hamming 8
        dedup.simhash_near_dup(sim, max_hamming=8, n_slices=2)


def test_lm_score_properties(spark):
    """Bigram-LM perplexity: short docs degenerate gracefully, repeated
    corpus-dominant sequences score higher probability (lower ppl) than
    one-off shuffled sequences, and probabilities are valid (logp < 0,
    ppl > 1 for any nontrivial model)."""
    from datawarehouse_spark.operators.text import lm_score

    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(8)]
    rows.append((100, "dog lazy the over jumps fox brown quick the"))
    rows.append((200, "solo"))  # 1 token -> no bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score(df).collect()}
    assert out[200]["n_bigrams"] == 0 and out[200]["ppl"] is None
    assert out[0]["n_bigrams"] == 8
    # every scored doc: avg_logp < 0 and ppl = 2^-avg_logp > 1
    for d, r in out.items():
        if d != 200:
            assert r["avg_logp"] < 0 and r["ppl"] > 1
    # the 8x-repeated sentence is far more probable under the corpus
    # model than its shuffled one-off permutation
    assert out[0]["ppl"] < out[100]["ppl"]
    # identical docs get identical scores
    assert out[0]["ppl"] == out[7]["ppl"]


def test_domain_divergence_zero_for_identical_mix(spark):
    """KL(P_domain || P_corpus) is 0 when every domain has the same
    token distribution, positive (never negative) otherwise, and larger
    for a domain further from the corpus mix."""
    from datawarehouse_spark.operators.text import domain_divergence

    same = [(s, "a b c d") for s in ("x", "y", "z") for _ in range(4)]
    df = spark.createDataFrame(same, "source string, text string")
    for r in domain_divergence(df).collect():
        assert r["kl_bits"] == 0.0
        assert r["n_tok"] == 16 and r["n_vocab"] == 4

    skewed = (
        [("near", "a b c d"), ("near", "a b c a")]
        + [("far", "z z z z"), ("far", "z z q z")]
        + [("base", "a b c d")] * 6
    )
    df2 = spark.createDataFrame(skewed, "source string, text string")
    out = {r["source"]: r for r in domain_divergence(df2).collect()}
    assert all(r["kl_bits"] >= 0 for r in out.values())
    assert out["far"]["kl_bits"] > out["near"]["kl_bits"] > 0


def test_domain_overlap_jaccard_extremes(spark):
    """Identical domains → jaccard 1; disjoint domains → 0 (and the
    zero-overlap pair still appears in the matrix); short docs (< n
    tokens) contribute no shingles."""
    from datawarehouse_spark.operators.text import domain_overlap

    rows = [
        ("m1", "a b c d e f"), ("m1", "g h i j"),
        ("m2", "a b c d e f"), ("m2", "g h i j"),   # exact mirror of m1
        ("dz", "q r s t u v"),                        # disjoint
        ("dz", "x y"),                                # too short: ignored
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["source_a"], r["source_b"]): r
           for r in domain_overlap(df).collect()}
    assert len(out) == 3  # all pairs present, including zero-overlap
    assert out[("m1", "m2")]["jaccard"] == 1.0
    assert out[("dz", "m1")]["n_common"] == 0
    assert out[("dz", "m1")]["jaccard"] == 0.0
    # "x y" contributed nothing: dz's shingle count comes only from the
    # 6-token doc (4 trigrams)
    assert out[("dz", "m1")]["n_a"] == 4


def test_bm25_ranks_term_rich_docs_first(spark):
    """BM25: a document saturated with the query terms outranks one
    with a single mention; docs without any query term never appear;
    rare terms outweigh ubiquitous ones (idf)."""
    from datawarehouse_spark.operators.text import bm25_topk

    rows = [
        (1, "spark spark spark join join filler filler"),
        (2, "spark other words here padding padding padding"),
        (3, "nothing relevant at all in this document"),
        (4, "rareterm common common common common common common"),
        (5, "common common common common common common common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, [("qa", "spark join"), ("qb", "rareterm common")],
                    k=3).collect()
    qa = sorted((r for r in out if r["qid"] == "qa"), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in qa][:2] == [1, 2]
    assert all(r["doc_id"] != 3 for r in out)
    qb = sorted((r for r in out if r["qid"] == "qb"), key=lambda r: r["rank"])
    # doc 4 holds the rare term: idf must put it above the
    # common-term-only doc 5 despite fewer matching tokens
    assert [r["doc_id"] for r in qb][:2] == [4, 5]
    assert all(r["score"] > 0 for r in out)


def test_cms_heavy_hitters_never_undercounts(spark):
    """CMS property: estimate >= exact for every token (min over d
    rows of summed counters can only overcount), exact top-k ordering
    is preserved, and with vocab << d*w the overcount is zero here."""
    from datawarehouse_spark.operators.text import cms_heavy_hitters

    rows = [(i, "alpha alpha alpha beta beta gamma") for i in range(10)]
    rows += [(100 + i, "delta epsilon") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cms_heavy_hitters(df, d=4, w=256, k=10).collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [r["token"] for r in by_rank][:3] == ["alpha", "beta", "gamma"]
    assert by_rank[0]["exact_c"] == 30
    for r in out:
        assert r["overcount"] >= 0
        assert r["cms_est"] == r["exact_c"] + r["overcount"]
    # 5 distinct tokens into 4x256 counters: no collisions expected
    assert all(r["overcount"] == 0 for r in out)


def test_pagerank_hub_ranks_highest_and_mass_conserves(spark):
    """PageRank on a star graph: the hub outranks the leaves, leaves
    tie exactly (symmetric positions -> identical arithmetic), total
    mass stays ~1 (no dangling leakage since every graph node has an
    edge), and isolated pairs rank independent of the star."""
    from datawarehouse_spark.operators.graph import pagerank

    star = [(0, i) for i in range(1, 6)]           # hub 0 with 5 leaves
    island = [(100, 101)]                           # disjoint edge pair
    pairs = spark.createDataFrame(star + island, "doc_a long, doc_b long")
    out = {r["node"]: r["pr"] for r in pagerank(pairs, n_iters=10).collect()}
    assert len(out) == 8
    assert all(out[0] > out[i] for i in range(1, 6))
    leaves = {out[i] for i in range(1, 6)}
    assert len(leaves) == 1          # bit-identical by symmetry
    assert out[100] == out[101]
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_triangle_stats_known_graph(spark):
    """Triangle counts on a hand-checkable graph: K4 glued to a path.
    K4 = {0,1,2,3} (4 triangles, each node in 3); node 4 hangs off
    node 3 (degree 1, no triangles); {10,11,12} is a disjoint exact
    triangle. Clustering: K4 nodes 3/(choose(3,2)... ) — node in K4
    has degree 3 within K4 (node 3 has degree 4 incl. the tail)."""
    from datawarehouse_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 4)] + [(10, 11), (10, 12), (11, 12)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in triangle_stats(pairs).collect()}
    assert len(out) == 8
    # K4: every node participates in the 3 triangles through it
    for v in (0, 1, 2):
        assert out[v]["degree"] == 3 and out[v]["n_tri"] == 3
        assert out[v]["clustering"] == 1.0
    # node 3: degree 4 (K4 + tail), still 3 triangles -> 6/12 = 0.5
    assert out[3]["degree"] == 4 and out[3]["n_tri"] == 3
    assert out[3]["clustering"] == 0.5
    # the tail leaf: no triangles, degree 1 -> coefficient pinned 0.0
    assert out[4]["degree"] == 1 and out[4]["n_tri"] == 0
    assert out[4]["clustering"] == 0.0
    # disjoint triangle: one triangle each, coefficient 1
    for v in (10, 11, 12):
        assert out[v]["degree"] == 2 and out[v]["n_tri"] == 1
        assert out[v]["clustering"] == 1.0
    # global triangle count: sum(n_tri)/3 = 4 + 1
    assert sum(r["n_tri"] for r in out.values()) == 15


def test_pmi_collocations_finds_glued_pair(spark):
    """PMI: a pair that ALWAYS co-occurs ("san francisco") outranks
    pairs of independent frequent words; the min-count floor drops
    rare pairs entirely."""
    from datawarehouse_spark.operators.text import pmi_collocations

    glued = "san francisco is big and san francisco is far"
    noise = "big and far is big and far is big and"
    rows = [(i, glued) for i in range(5)] + [(100 + i, noise) for i in range(5)]
    rows.append((999, "rare pairxyz"))  # c12=1 < min_count: dropped
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, min_count=5, k=10).collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert (by_rank[0]["w1"], by_rank[0]["w2"]) == ("san", "francisco")
    assert all((r["w1"], r["w2"]) != ("rare", "pairxyz") for r in out)
    assert all(r["c12"] >= 5 for r in out)


def test_batch_by_length_beats_arrival_order_padding(spark):
    """Batches are full (size 8) except the bucket tail, padding is
    max-minus-own within the batch, and total padding under length
    bucketing is <= padding under naive arrival-order batching of the
    same corpus (the whole point of the operator)."""
    from datawarehouse_spark.operators.text import batch_by_length

    # lengths interleaved so arrival order mixes short and long
    rows = [(i, " ".join(["t"] * (5 + (i * 37) % 60))) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = batch_by_length(df, bucket_width=16, batch_size=8).collect()
    assert len(out) == 64
    by_batch = {}
    for r in out:
        assert r["padding"] == r["batch_max"] - r["n_tokens"] >= 0
        by_batch.setdefault((r["bucket"], r["batch_id"]), []).append(r)
    for members in by_batch.values():
        assert len(members) <= 8
        assert max(m["n_tokens"] for m in members) == members[0]["batch_max"]
    bucketed_pad = sum(r["padding"] for r in out)
    lens = [5 + (i * 37) % 60 for i in range(64)]
    naive_pad = sum(
        max(lens[i:i + 8]) - x for i in range(0, 64, 8) for x in lens[i:i + 8]
    )
    assert bucketed_pad <= naive_pad
    # determinism: same addresses on recompute
    again = batch_by_length(df, bucket_width=16, batch_size=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_prefix_filter_matches_naive_all_pairs(spark):
    """Losslessness: the prefix-filtered join must return EXACTLY the
    naive uncapped all-pairs result — same pairs, same jaccards."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    fast = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in dedup.prefix_filter_pairs(docs, threshold=0.5).collect()
    }
    naive = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_freq=None, persist=False
        ).collect()
    }
    assert fast == naive


def test_prefix_filter_size_ratio_prune_is_safe(spark):
    """Constructed cross-size pair: a doc contained in a 3x-larger doc
    has jaccard < 0.5, so the size-ratio prune may drop it — but a pair
    of equal-size docs sharing >half their shingles must survive."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g z"),   # shares 5/7 of 6-shingle space
            (3, " ".join(f"w{i}" for i in range(40)) + " a b c d e f g h"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.prefix_filter_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs  # containment pair: jaccard well under 0.5


def test_sorted_neighborhood_invariant_to_block_count(spark):
    """The distributed global rank (range partitions + broadcast
    offsets) must emit the identical pair set no matter how many range
    blocks the corpus is split into — including n_blocks=1 (the
    single-partition reference)."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]

    def pairset(nb):
        return {
            (r.doc_a, r.doc_b, r.gap, r.inter)
            for r in dedup.sorted_neighborhood_pairs(
                docs, window=4, n_blocks=nb
            ).collect()
        }

    ref = pairset(1)
    assert pairset(3) == ref
    assert pairset(8) == ref
    # n rows → (window-1)·n - (1+2) tail pairs
    n = docs.count()
    assert len(ref) == 3 * n - 6


def test_token_entropy_hand_computed(spark):
    """H('a a b b') = 1 bit; H of a constant doc = 0 with norm 0 by
    convention; H ≤ log2(n_distinct) always (uniform bound)."""
    from datawarehouse_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "a a b b"), (2, "x x x x"), (3, "p q r s")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in t.token_entropy(docs).collect()}
    assert rows[1].entropy_bits == 1.0 and rows[1].norm_entropy == 1.0
    assert rows[2].entropy_bits == 0.0 and rows[2].norm_entropy == 0.0
    assert rows[2].n_distinct == 1
    assert rows[3].entropy_bits == 2.0  # uniform over 4 tokens
    corpus = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    import math

    for r in t.token_entropy(corpus).collect():
        assert -1e-9 <= r.entropy_bits <= math.log2(r.n_distinct) + 1e-6
        assert -1e-9 <= r.norm_entropy <= 1.0 + 1e-6


def test_pps_sample_is_exact_integer_decision(spark):
    """Recompute the acceptance test in Python from the emitted (u,
    n_tokens, max_nt) — it must match bit-for-bit, the longest doc is
    always accepted, and the realized rate tracks E[accept] =
    mean(n_tokens)/max_nt."""
    from datawarehouse_spark.operators.text import pps_sample

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    rows = pps_sample(docs).collect()
    for r in rows:
        assert r.accept == (r.u * r.max_nt < r.n_tokens * 4294967296)
        if r.n_tokens == r.max_nt:
            assert r.accept  # u < 2^32 always
    expect = sum(r.n_tokens for r in rows) / (rows[0].max_nt * len(rows))
    got = sum(r.accept for r in rows) / len(rows)
    assert abs(got - expect) < 0.1, (got, expect)


def test_containment_sees_quotes_jaccard_misses(spark):
    """A 10-token prefix quote of a 40-token doc: containment(quote →
    doc) = 1.0 but Jaccard ≈ 0.2 — the containment op must emit the
    directed pair and the Jaccard op at 0.5 must not."""
    base = " ".join(f"t{i}" for i in range(40))
    quote = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, base), (2, quote)], ["doc_id", "text"]
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.8).collect()
    }
    assert cont == {(2, 1): 1.0}
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                    persist=False).collect()
    assert jac == []


def test_exact_dup_spans_rolling_equals_md5(spark):
    """r14 (VERDICT r13 ask #4): the Rabin-Karp rolling-hash window
    stage must reproduce the md5-window stage's spans EXACTLY — same
    (id, span_start, span_end, span_len) multiset — on (a) a crafted
    corpus stressing the boundaries (doc exactly L tokens, doc of
    L-1 tokens emitting nothing, within-doc self-repeat, cross-doc
    verbatim copy at different offsets, overlapping windows chaining
    into one maximal span) and (b) the fixture corpus at oracle SF."""
    from datawarehouse_spark.operators.dedup import exact_dup_spans

    L = 5
    block = " ".join(f"b{i}" for i in range(L))          # the repeat
    filler1 = " ".join(f"u{i}" for i in range(7))
    filler2 = " ".join(f"v{i}" for i in range(3))
    rows = [
        (1, f"{block} {filler1} {block}"),               # self-repeat
        (2, f"{filler2} {block}"),                       # copy, offset 3
        (3, block),                                      # exactly L tokens
        (4, " ".join(f"w{i}" for i in range(L - 1))),    # too short
        (5, f"{block} extra {block} extra2"),            # chained overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def spans(impl):
        return sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in exact_dup_spans(docs, min_len=L, impl=impl).collect()
        )

    md5_spans, rolling_spans = spans("md5"), spans("rolling")
    assert md5_spans, "crafted corpus must produce duplicated spans"
    assert rolling_spans == md5_spans

    corpus = load_tables(spark, SF_ORACLE, ("documents",))["documents"]

    def corpus_spans(impl):
        return sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in exact_dup_spans(
                corpus, min_len=20, impl=impl
            ).collect()
        )

    fixture_md5 = corpus_spans("md5")
    assert fixture_md5, "fixture must produce duplicated spans"
    assert corpus_spans("rolling") == fixture_md5

    with pytest.raises(ValueError, match="impl must be"):
        exact_dup_spans(docs, min_len=L, impl="sha1")


def test_containment_prefix_filter_lossless_vs_naive(spark):
    """r14: containment_pairs switched from a full shared-shingle
    count-aggregation to prefix-filter nomination (rarest ⌊(1−t)n⌋+1
    shingles of A) + in-row array_intersect verify. The rewrite must be
    LOSSLESS: compare bit-for-bit against a naive Python reference
    (full pairwise distinct-shingle intersection) on a corpus designed
    to stress the boundary — exact dupes (t·n integer, overlap exactly
    ⌈t·n⌉), one-shingle docs, prefix quotes, near-misses one shingle
    under threshold, and docs sharing only their rarest shingle."""
    import itertools

    def shingles(text, n=3):
        w = text.split(" ")
        if len(w) < n:
            return {text}
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    base = " ".join(f"w{i}" for i in range(20))
    corpus = [
        (1, base),                                        # source
        (2, " ".join(f"w{i}" for i in range(5))),         # prefix quote
        (3, base),                                        # exact dup of 1
        (4, " ".join(f"w{i}" for i in range(2, 22))),     # heavy overlap
        (5, "a b c"),                                     # single shingle
        (6, "a b c"),                                     # its exact dup
        (7, "xx yy"),                                     # <n tokens
        (8, " ".join(f"w{i}" for i in range(10, 30))),    # partial
        (9, " ".join(f"z{i}" for i in range(10))),        # disjoint
    ]
    for t in (0.5, 0.8, 1.0):
        expect = {}
        for (ia, ta), (ib, tb) in itertools.permutations(corpus, 2):
            sa, sb = shingles(ta), shingles(tb)
            i = len(sa & sb)
            if i > 0 and i / len(sa) >= t:
                expect[(ia, ib)] = (len(sa), len(sb), i, i / len(sa))
        docs = spark.createDataFrame(corpus, ["doc_id", "text"])
        got = {
            (r.doc_a, r.doc_b): (r.n_a, r.n_b, r.inter, r.containment)
            for r in dedup.containment_pairs(docs, threshold=t).collect()
        }
        assert got == expect, (t, got, expect)


def test_bpe_train_matches_python_reference(spark):
    """The distributed trainer must reproduce a straightforward Python
    BPE reference (greedy left-to-right merge application, ties by
    (count desc, pair asc)) merge-for-merge on a constructed corpus
    with repeat chains ('aaa') that stress the two-pass replace."""
    from collections import Counter

    from datawarehouse_spark.operators.text import bpe_train

    corpus = [
        "low lower lowest low low",
        "new newer newest new newer",
        "aaa aa aaa baaab",
    ]

    def ref_bpe(texts, k):
        words = Counter(w for t in texts for w in t.split(" "))
        symd = {w: list(w) + ["</w>"] for w in words}
        merges = []
        for _ in range(k):
            pc = Counter()
            for w, f in words.items():
                s = symd[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), c = best
            merges.append((l, r, c))
            for w in symd:
                s, out, i = symd[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                symd[w] = out
        return merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"]
    )
    got = [
        (r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(docs, k=5).orderBy("merge_rank").collect()
    ]
    assert got == ref_bpe(corpus, 5)


def test_bpe_segment_reconstructs_words(spark):
    """Removing segmentation spaces and the </w> marker must
    reconstruct each word exactly, and merged symbols must only ever
    concatenate adjacent characters (no reordering)."""
    from datawarehouse_spark.operators.text import bpe_train

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    for r in bpe_train(docs, k=6, emit="vocab").collect():
        assert r.seg.endswith("</w>") or "</w>" in r.seg
        joined = r.seg.replace(" ", "").replace("</w>", "")
        assert joined == r.w, (r.w, r.seg)
        assert r.n_syms == len(r.seg.split(" "))


def test_bpe_oracle_survives_exhausted_merges(spark):
    """Regression (ADVICE r6): when pair counts exhaust before round k,
    the unrolled oracle's per-round join must pass the word table
    through unchanged — a CROSS JOIN against the empty argmax CTE
    annihilated the table, returning 0 rows for emit='vocab' while
    bpe_train correctly breaks and keeps the last word table. Verified
    with a one-word corpus ('ab') that exhausts after 2 merges."""
    import duckdb

    from datawarehouse_spark.operators.text import bpe_train
    from datawarehouse_spark.queries.llm import _bpe_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT 1 AS doc_id, 'ab' AS text"
    )
    docs = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    for emit in ("merges", "vocab"):
        dres = con.execute(_bpe_oracle(6, emit=emit))
        dcols = [d[0] for d in dres.description]
        drows = dres.fetchall()
        sdf = bpe_train(docs, k=6, emit=emit)
        srows = [tuple(r) for r in sdf.collect()]
        assert drows, f"emit={emit}: oracle annihilated to 0 rows"
        from tests.oracle_compare import canonical

        assert canonical(srows, sdf.columns) == canonical(drows, dcols), emit
    con.close()


def test_sorted_neighborhood_rejects_degenerate_window():
    """Regression (ADVICE r6): window<=1 built F.sequence(1, 0), which
    Spark evaluates with an implicit -1 step as [1, 0] and emitted
    gap-0 self-pairs. The operator now raises before building a plan."""
    import pytest as _pytest

    from datawarehouse_spark.operators import dedup

    for w in (0, 1):
        with _pytest.raises(ValueError, match="window >= 2"):
            dedup.sorted_neighborhood_pairs(None, window=w)


def test_novelty_scores_copy_detection(spark):
    """A verbatim re-crawl of an earlier document must score novelty 0,
    the first document 1, and a half-copied doc strictly between."""
    from datawarehouse_spark.operators.dedup import novelty_scores

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # full copy
            (3, "alpha beta gamma delta nine ten eleven twelve"),
        ],
        ["doc_id", "text"],
    )
    nov = {r.doc_id: r for r in novelty_scores(docs).collect()}
    assert nov[1].novelty == 1.0
    assert nov[2].novelty == 0.0 and nov[2].n_novel == 0
    assert 0.0 < nov[3].novelty < 1.0


def test_tokenizer_fertility_bounds_and_convergence(spark):
    """Fertility is ≥1 always; on a corpus of ONE repeated word, enough
    merges collapse it to a single symbol → fertility exactly 1."""
    from datawarehouse_spark.operators.text import tokenizer_fertility

    one = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab ab")], ["doc_id", "text"]
    )
    rows = tokenizer_fertility(one, k=6).collect()
    assert {r.fertility for r in rows} == {1.0}
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    for r in tokenizer_fertility(docs, k=6).collect():
        assert r.fertility >= 1.0
        assert r.n_syms >= r.n_words


def test_kmeans_recovers_separated_clusters(spark):
    """On two well-separated blobs, 2-iteration Lloyd's from the md5
    seed must assign each blob to one cluster (and dist2 must be the
    TRUE minimum over the final centroids — re-checked in numpy)."""
    import numpy as np

    from datawarehouse_spark.operators.similarity import kmeans_assign

    rows = []
    for i in range(10):
        rows.append((i, [10.0 + (i % 3) * 0.1, 10.0, 0.0]))
    for i in range(10, 20):
        rows.append((i, [-10.0, -10.0 - (i % 3) * 0.1, 0.0]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = kmeans_assign(emb, k=2, iters=2).collect()
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
    assert len(got) == 20
    assert sorted(map(sorted, by_cluster.values())) == [
        list(range(10)), list(range(10, 20))
    ]

    # numpy re-check: replicate the md5 init + fixed-iteration Lloyd
    # loop; the returned dist2 is the distance to the centroids
    # entering the FINAL iteration and must be the true minimum there.
    import hashlib

    pts = {i: np.array(v, dtype=np.float64) for i, v in rows}
    seed = sorted(pts, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = np.stack([pts[i] for i in seed[:2]])
    for _ in range(2):
        d2 = {i: ((p - cents) ** 2).sum(axis=1) for i, p in pts.items()}
        asg = {i: int(np.argmin(d)) for i, d in d2.items()}
        cents = np.stack([
            np.mean([pts[i] for i in pts if asg[i] == c], axis=0)
            for c in range(2)
        ])
    for r in got:
        assert abs(r.dist2 - d2[r.vec_id].min()) < 1e-5, r


def test_lsh_oracle_dim_pinned_to_fixture(spark):
    """The unrolled LSH ANN oracle (queries/llm.py::_lsh_ann_oracle)
    hardcodes the embedding dim (64) because SQL can't probe it; if
    the driver regenerates fixtures at a different dim, the oracle's
    projection would zip against missing/extra components and the
    bucket bits would silently diverge. Fail loudly here instead."""
    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [64], (
        f"embeddings dim drifted to {dims}; update _lsh_ann_oracle(dim=...)"
    )


def test_kmeans_engines_agree_on_fixture(spark):
    """VERDICT r7 ask #2 — ONE Lloyd algorithm, two assignment engines:
    the Arrow-GEMM compute path (impl='gemm', the default) and the
    SQL explode shape (impl='sql', the oracle-parity twin) must
    produce IDENTICAL (id → cluster) assignments and dist2 on the grid
    (both round every squared component to 6, so the float64 GEMM sum
    sits within 1e-12 of the exact decimal sum — far inside the 1e-6
    output resolution). Checked on the real embeddings fixture at two
    (k, iters) settings including the driver's."""
    from datawarehouse_spark.operators.similarity import kmeans_assign

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    for k, iters in ((4, 2), (7, 3)):
        g = {r.vec_id: (r.cluster, r.dist2)
             for r in kmeans_assign(emb, k=k, iters=iters, impl="gemm").collect()}
        s = {r.vec_id: (r.cluster, r.dist2)
             for r in kmeans_assign(emb, k=k, iters=iters, impl="sql").collect()}
        assert set(g) == set(s) and len(g) > 0
        mism = {i: (g[i], s[i]) for i in g
                if g[i][0] != s[i][0] or abs(g[i][1] - s[i][1]) > 1e-9}
        assert not mism, f"k={k} iters={iters}: {list(mism.items())[:5]}"


def test_zipf_slope_detects_skew_vs_uniform(spark):
    """A geometric (Zipf-ish) frequency profile must fit a steeply
    negative slope; a perfectly uniform vocabulary fits slope 0 with
    intercept = ln(freq). The fixture corpus must land strictly
    negative for every language slice."""
    from datawarehouse_spark.operators.text import zipf_slope

    # uniform: 4 words × 3 occurrences each
    uni = spark.createDataFrame(
        [(1, "u", "a b c d a b c d a b c d")], ["doc_id", "lang", "text"]
    )
    r = zipf_slope(uni, top_n=4).collect()[0]
    assert r.zipf_slope == 0.0
    import math
    assert abs(r.zipf_intercept - round(math.log(3), 6)) < 1e-6

    # geometric: a×8, b×4, c×2, d×1
    geo = spark.createDataFrame(
        [(1, "g", " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"]))],
        ["doc_id", "lang", "text"],
    )
    g = zipf_slope(geo, top_n=4).collect()[0]
    assert g.zipf_slope < -1.0  # ln-freq drops ~ln2 per doubling of rank

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    for row in zipf_slope(docs).collect():
        assert row.zipf_slope < 0.0, row


def test_source_mix_upweights_minority_slices(spark):
    """Temperature alpha<1 must give minority slices a HIGHER per-doc
    keep probability than majority slices, realized rates must track
    q per slice, and alpha=1 must degenerate to uniform q."""
    from datawarehouse_spark.operators.text import source_mix_sample

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    rows = source_mix_sample(docs, alpha=0.5, target_frac=0.5).collect()
    q_by_lang = {}
    for r in rows:
        q_by_lang[r.lang] = (r.q, r.c_grp)
    qs = sorted(q_by_lang.values(), key=lambda t: t[1])
    # per-doc keep probability decreases as slice size grows
    assert all(qs[i][0] >= qs[i + 1][0] for i in range(len(qs) - 1))
    # realized rate per slice tracks q (binomial, n≥64 here)
    for lang, (q, c) in q_by_lang.items():
        got = sum(r.accept for r in rows if r.lang == lang) / c
        assert abs(got - q) < 0.2, (lang, got, q)
    # alpha=1: every slice gets q = target_frac exactly
    flat = source_mix_sample(docs, alpha=1.0, target_frac=0.5).collect()
    assert {r.q for r in flat} == {0.5}


def test_quality_calibration_fit_and_outliers(spark):
    """The OLS residuals must decimal-sum to ~0 over the fit slice
    (normal-equation identity), coefficients must be constant across
    rows, and a planted stopword-stuffed doc must flag as outlier."""
    from datawarehouse_spark.operators.text import quality_calibration

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    rows = quality_calibration(docs, tau=0.05).collect()
    assert len({(r.slope, r.intercept) for r in rows}) == 1
    fit = [r for r in rows if r.lang == "en"]
    assert abs(sum(r.resid for r in fit)) < 1e-3 * len(fit)

    # planted: 3 clean fit-slice docs (varying length, ~2 stopwords
    # each) + one stopword-stuffed doc OUTSIDE the fit slice — the
    # fit-on-slice/score-corpus shape: the stuffed doc can't drag the
    # regression toward itself, so its residual must flag
    planted = spark.createDataFrame(
        [(1, "en", "cat dog the bird fish a lion tiger"),
         (2, "en", "tree rock the river hill a cloud rain snow wind"),
         (3, "en", "red blue the green black a white pink gray brown teal moss"),
         (4, "xx", "the the the a a a of of of and and and to to in is")],
        ["doc_id", "lang", "text"],
    )
    out = {r.doc_id: r for r in quality_calibration(planted, tau=0.05).collect()}
    assert out[4].is_outlier
    assert not out[1].is_outlier


def test_cluster_balanced_sample_quota_and_coverage(spark):
    """Every cluster contributes exactly min(|cluster|, quota) rows —
    the sample covers every mode — and the picks are the md5-lowest
    ids of each cluster (deterministic, re-runnable)."""
    from datawarehouse_spark.operators.similarity import (
        cluster_balanced_sample, kmeans_assign,
    )

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    quota = 40
    samp = cluster_balanced_sample(emb, k=4, iters=2,
                                   per_cluster=quota).collect()
    full = kmeans_assign(emb, k=4, iters=2).collect()
    sizes = {}
    for r in full:
        sizes[r.cluster] = sizes.get(r.cluster, 0) + 1
    got = {}
    for r in samp:
        got[r.cluster] = got.get(r.cluster, 0) + 1
    assert got == {c: min(n, quota) for c, n in sizes.items()}
    # picks are the md5-lowest ids within each cluster
    import hashlib
    by_c = {}
    for r in full:
        by_c.setdefault(r.cluster, []).append(r.vec_id)
    for c, ids in by_c.items():
        want = set(sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:quota])
        assert {r.vec_id for r in samp if r.cluster == c} == want


def test_cc_keep_best_argmax_per_component(spark):
    """Within every near-dup component the kept doc is the max-score
    (min-id tiebreak) member — brute-force verified — and exactly one
    doc per component is kept."""
    from datawarehouse_spark.operators.dedup import (
        cc_keep_best, dedup_clusters, ngram_jaccard_pairs,
    )

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    clusters = dedup_clusters(pairs)
    quality = docs.select("doc_id", F.col("n_chars").alias("score"))
    out = cc_keep_best(clusters, quality).collect()
    assert out, "fixture must contain near-dup clusters"

    scores = {r.doc_id: r.score for r in quality.collect()}
    by_comp: dict[int, list[int]] = {}
    for r in out:
        by_comp.setdefault(r.canonical_id, []).append(r.doc_id)
    for comp, members in by_comp.items():
        want = min(members, key=lambda d: (-scores[d], d))
        kept = [r.doc_id for r in out
                if r.canonical_id == comp and r.keep]
        assert kept == [want] or set(kept) == {want}, (comp, kept, want)
        for r in out:
            if r.canonical_id == comp:
                assert r.keep_id == want


def test_curriculum_phases_contiguous_and_block_invariant(spark):
    """Phases cut the ppl-sorted order contiguously into near-equal
    parts (sizes differ by ≤ n_phases), ranks are a permutation of
    1..N, and — the distributed-correctness core — the full output is
    IDENTICAL for any range-block count."""
    from datawarehouse_spark.operators.text import curriculum_phases

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    a = {r.doc_id: (r.rank, r.phase) for r in
         curriculum_phases(docs, n_phases=4, n_blocks=8).collect()}
    b = {r.doc_id: (r.rank, r.phase) for r in
         curriculum_phases(docs, n_phases=4, n_blocks=3).collect()}
    assert a == b
    ranks = sorted(r for r, _ in a.values())
    assert ranks == list(range(1, len(a) + 1))
    # phases are monotone in rank and near-equal in size
    by_rank = [p for _, p in sorted(a.values())]
    assert by_rank == sorted(by_rank)
    sizes = [by_rank.count(p) for p in sorted(set(by_rank))]
    assert len(sizes) == 4 and max(sizes) - min(sizes) <= 4


def test_bloom_contamination_superset_of_exact(spark):
    """Bloom semantics: no false negatives ever (every exact hit is a
    Bloom hit), false positives are counted honestly, and on a clean
    disjoint corpus the FP count is what the m/k arithmetic says —
    here simply observed >= 0 and bounded by non-exact shingles."""
    from datawarehouse_spark.operators.text import bloom_contamination

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    out = bloom_contamination(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=3, m=4096, k=3,
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r.n_bloom >= r.n_exact, r      # no false negatives
        assert r.n_fp == r.n_bloom - r.n_exact, r
        assert 0 <= r.n_bloom <= r.n_sh
    # a filter this large on the fixture shingle set should not be
    # saturated: SOME doc must have a non-hit shingle
    assert any(r.n_bloom < r.n_sh for r in out)


def test_corpus_diff_statuses(spark):
    """Every status arises and is correct on a constructed delta."""
    from datawarehouse_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_corpus_diff_null_text_presence(spark):
    """NULL text must not be misread as absence: md5(NULL) is NULL, so
    presence is decided by explicit row markers. A NULL-text doc
    present in both versions is 'changed' (unknown fingerprint —
    conservative re-ingest, matching the oracle's CASE WHEN old_fp =
    new_fp); a NULL-text doc removed is 'removed', added is 'added'."""
    from datawarehouse_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "gamma"), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "now text"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "changed",   # NULL → NULL: fp unknown on both sides
        2: "changed",   # NULL → text
        3: "changed",   # text → NULL
        4: "added",     # NULL-text doc new in this version
        5: "removed",   # NULL-text doc dropped
    }


def test_paragraph_ops_newline_unit(spark):
    """unit='lines' runs the same dedup/boilerplate transforms over
    REAL newline paragraph boundaries (the docstring's claim about
    real corpora, now exercised): hand-computed expectations on a
    newline-bearing corpus, plus batch-vs-increment replay parity in
    lines mode."""
    from datawarehouse_spark.operators.dedup import (
        block_registry,
        boilerplate_block_removal,
        paragraph_dedup,
        paragraph_dedup_increment,
    )

    docs = spark.createDataFrame(
        [
            (1, "A", "intro one\nshared footer\nbody alpha"),
            (2, "A", "intro two\nshared footer\nbody beta"),
            (3, "B", "shared footer\nunique gamma"),
        ],
        "doc_id long, source string, text string",
    )

    pd_out = {
        r.doc_id: r
        for r in paragraph_dedup(docs, unit="lines", persist=False).collect()
    }
    assert (pd_out[1].n_blocks, pd_out[1].n_kept) == (3, 3)
    assert pd_out[1].clean_text == "intro one\nshared footer\nbody alpha"
    assert (pd_out[2].n_blocks, pd_out[2].n_kept) == (3, 2)
    assert pd_out[2].clean_text == "intro two\nbody beta"
    assert (pd_out[3].n_blocks, pd_out[3].n_kept) == (2, 1)
    assert pd_out[3].clean_text == "unique gamma"

    bp_out = {
        r.doc_id: r
        for r in boilerplate_block_removal(
            docs, unit="lines", persist=False
        ).collect()
    }
    # 'shared footer' hits min_df=2 only within source A — dropped from
    # docs 1 and 2, kept in B's doc 3
    assert bp_out[1].clean_text == "intro one\nbody alpha"
    assert bp_out[2].clean_text == "intro two\nbody beta"
    assert bp_out[3].clean_text == "shared footer\nunique gamma"
    assert all(bp_out[i].n_kept == 2 for i in (1, 2, 3))

    # streaming replay parity over newline paragraphs: feeding the
    # corpus id-by-id through the increment reproduces the batch op
    batch = {
        (r.doc_id, r.clean_text, r.n_blocks, r.n_kept)
        for r in pd_out.values()
    }
    seen = None
    replayed = set()
    for i in (1, 2, 3):
        cleaned, new_blocks = paragraph_dedup_increment(
            docs.filter(F.col("doc_id") == i), seen, unit="lines"
        )
        replayed |= {
            (r.doc_id, r.clean_text, r.n_blocks, r.n_kept)
            for r in cleaned.collect()
        }
        add = new_blocks.localCheckpoint(eager=True)
        seen = add if seen is None else seen.union(add).distinct()
    assert replayed == batch
    # and the registry builder agrees with the accumulated stream state
    assert {r.s for r in seen.collect()} == {
        r.s for r in block_registry(docs, unit="lines").collect()
    }


def test_reservoir_sample_exact_n_and_uniformity_shape(spark):
    """Exactly N rows, deterministic across runs, ranks 1..N in
    md5-priority order, and the picked set is insertion-order-free
    (reversing the input changes nothing)."""
    from datawarehouse_spark.queries.llm import llm_reservoir_sample

    a = llm_reservoir_sample(spark, SF_ORACLE).collect()
    b = llm_reservoir_sample(spark, SF_ORACLE).collect()
    assert len(a) == 100
    assert sorted(r.pick for r in a) == list(range(1, 101))
    assert {(r.doc_id, r.pick) for r in a} == {(r.doc_id, r.pick) for r in b}
    pris = [r.pri for r in sorted(a, key=lambda r: r.pick)]
    assert pris == sorted(pris)


def test_ann_quality_bounds_and_exact_agreement(spark):
    """recall in [0,1]; rr in {0} ∪ {1/r}; and a self-consistency
    check: measuring the EXACT searcher against itself must give
    recall 1.0 and rr 1.0 for every query."""
    from datawarehouse_spark.queries.llm import llm_ann_quality

    rows = llm_ann_quality(spark, SF_ORACLE).collect()
    assert {r.q_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        assert 0.0 <= r.recall <= 1.0 and r.n_overlap <= min(r.n_exact, max(r.n_ann, 0))
        assert r.rr == 0.0 or abs(r.rr - 1.0 / round(1.0 / r.rr)) < 1e-12


def test_sq8_quantize_error_bounds(spark):
    """SQ8 invariants: per-component |error| is bounded by one code
    step (span/255, in micro units), endpoints reconstruct near-
    exactly, and a constant dimension (span 0) codes to 0 with zero
    error. Errors are integers (micro domain) by construction."""
    from datawarehouse_spark.operators.similarity import sq8_quantize

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    rows = sq8_quantize(emb).collect()
    assert len(rows) == emb.count()
    # the per-dim span in micro units bounds each component's error
    spans = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select("pos", F.round(F.round(F.col("x").cast("double"), 6) * 1e6, 0)
                .cast("bigint").alias("xi"))
        .groupBy("pos")
        .agg((F.max("xi") - F.min("xi")).alias("span"))
        .collect()
    )
    step = max((r.span // 255) + 1 for r in spans)
    for r in rows:
        assert 0 <= r.max_abs_err <= step, (r, step)
        assert r.total_abs_err <= r.n_dims * step
        assert 0.0 <= r.avg_code <= 255.0

    # constant dim: zero span -> code 0, zero error
    const = spark.createDataFrame(
        [(1, [1.5, 2.0]), (2, [1.5, 3.0])], "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: r for r in sq8_quantize(const).collect()}
    # dim 0 is constant across vectors: contributes 0 error for both
    assert got[1].max_abs_err <= (int(3e6) - int(2e6)) // 255 + 1


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    """Block-level dedup semantics on a hand-computable corpus
    (block_words=2): a block repeated across docs survives only at
    its smallest (doc_id, pos); a doc repeating its own block keeps
    only the first copy; a fully-duplicated doc keeps n_kept=0 with
    empty clean_text; reassembly preserves within-doc block order."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),           # blocks: "a b", "c d"
            (2, "a b x y a b"),       # "a b" dup (doc1 wins), self-rep
            (3, "a b c d"),           # fully duplicated by doc 1
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(
            docs, block_words=2, persist=False
        ).collect()
    }
    assert out[1]["n_blocks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "a b c d"
    # doc 2: "a b" at b=0 lost to doc 1; "x y" kept; "a b" at b=2 lost
    assert out[2]["n_blocks"] == 3 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "x y"
    assert out[3]["n_kept"] == 0 and out[3]["clean_text"] == ""


def test_paragraph_dedup_tail_block_and_corpus_preservation(spark):
    """The short tail block is its own unit, and the union of kept
    blocks over the corpus equals the distinct block set (dedup keeps
    exactly one canonical copy — nothing is lost, unlike span
    removal)."""
    docs = spark.createDataFrame(
        [(1, "p q r"), (2, "p q r")], ["doc_id", "text"]
    )
    rows = dedup.paragraph_dedup(
        docs, block_words=2, persist=False
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # doc 1 keeps both blocks ("p q", tail "r"); doc 2 keeps none
    assert by_id[1]["clean_text"] == "p q r"
    assert by_id[1]["n_blocks"] == 2 and by_id[1]["n_kept"] == 2
    assert by_id[2]["n_kept"] == 0
    kept_blocks = set()
    for r in rows:
        if r["clean_text"]:
            t = r["clean_text"].split(" ")
            kept_blocks.update(
                " ".join(t[i:i + 2]) for i in range(0, len(t), 2)
            )
    assert kept_blocks == {"p q", "r"}


def test_boilerplate_blocks_source_scoped_removal(spark):
    """A block frequent within ONE source is dropped from every doc of
    that source (no canonical survivor), while the same block under a
    different source survives; min_df counts DISTINCT docs, so a doc
    repeating its own block does not make it boilerplate."""
    docs = spark.createDataFrame(
        [
            (1, "nav bar u v", "s1"),   # "nav bar" boiler in s1
            (2, "nav bar w x", "s1"),
            (3, "nav bar y z", "s2"),   # lone in s2 → kept
            (4, "q r q r", "s2"),       # self-repeat only → kept
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.boilerplate_block_removal(
            docs, block_words=2, min_df=2, persist=False
        ).collect()
    }
    assert out[1]["clean_text"] == "u v" and out[1]["n_kept"] == 1
    assert out[2]["clean_text"] == "w x"
    assert out[3]["clean_text"] == "nav bar y z"
    assert out[4]["clean_text"] == "q r q r" and out[4]["n_kept"] == 2
    assert all(r["n_blocks"] == 2 for r in out.values())


def test_block_ops_reject_degenerate_params(spark):
    """block_words < 1 is a slicing-arithmetic footgun and min_df < 2
    would classify EVERY block as boilerplate (df >= 1 always) and
    silently blank the corpus — both rejected up front."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "a b", "s1")], ["doc_id", "text", "source"]
    )
    with _pytest.raises(ValueError, match="block_words"):
        dedup.paragraph_dedup(docs, block_words=0, persist=False)
    with _pytest.raises(ValueError, match="min_df"):
        dedup.boilerplate_block_removal(docs, min_df=1, persist=False)


def test_paragraph_dedup_empty_text_pinned(spark):
    """An empty text splits to one empty block in both engines
    (Spark split('', ' ') == DuckDB string_split): the first empty doc
    keeps its (empty) block, later empty docs dedup against it — the
    behavior is pinned so a tokenizer change can't silently flip it."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(
            docs, block_words=2, persist=False
        ).collect()
    }
    assert out[1]["n_blocks"] == 1 and out[1]["n_kept"] == 1
    assert out[1]["clean_text"] == ""
    assert out[2]["n_blocks"] == 1 and out[2]["n_kept"] == 0


def test_edit_distance_pairs_typos_and_losslessness(spark):
    """Ed-Join finds every pair within levenshtein <= d — including
    nonzero distances (typos) and pairs of REPETITIVE keys whose
    distinct q-gram sets are too small for the prefix bound (they must
    be caught by the degenerate bucket, not dropped). Expected set is
    computed naively in-test."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # dist 2 vs 1 (within key 40: dist 0)
        (3, "the quick brown fax jumps over the lazy dog"),   # 1 sub vs 1
        (4, "a completely different sentence about spark sql"),
        (5, "aaaaaaaaaaaa"),                                  # repetitive: 1 distinct bigram
        (6, "aaaaabaaaaaa"),                                  # 1 sub vs 5, tiny gram set
        (7, "ababababababab"),                                # disjoint-ish gram set
        (8, "zz"),                                            # sub-cut short key
        (9, "zzz"),                                           # dist 1 vs 8
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in dedup.edit_distance_pairs(docs, max_dist=2).collect()
    }

    def lev(a, b):
        import numpy as np
        m, n = len(a), len(b)
        d = np.arange(n + 1)
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                cur = min(d[j] + 1, d[j - 1] + 1,
                          prev + (a[i - 1] != b[j - 1]))
                prev, d[j] = d[j], cur
        return int(d[n])

    keys = {i: t[:40] for i, t in rows}
    want = {
        (i, j): lev(keys[i], keys[j])
        for i in keys for j in keys
        if i < j and lev(keys[i], keys[j]) <= 2
    }
    assert got == want
    assert (3, 1) not in got  # normalized ordering: doc_a < doc_b
    assert any(d > 0 for d in got.values())  # typo pairs recovered
    assert (5, 6) in got  # degenerate-bucket pair survived


def test_kn_lm_score_formula_hand_computed(spark):
    """Pin interpolated Kneser-Ney on a 2-doc corpus small enough to
    compute by hand: counts (a,b)=2, (b,c)=1; contexts c1(a)=2,
    c1(b)=1; continuation N1+(.,b)=1, N1+(.,c)=1; B=2 bigram types.
    p(b|a) = 1.25/2 + (0.75*1/2)*(1/2) = 0.8125
    p(c|b) = 0.25/1 + (0.75*1/1)*(1/2) = 0.625
    Also: the <2-token doc emits n_bigrams=0 with NULL scores."""
    import math

    from datawarehouse_spark.operators.text import kn_lm_score

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in kn_lm_score(docs).collect()}
    lp_ab = round(math.log2(0.8125), 6)
    lp_bc = round(math.log2(0.625), 6)
    avg1 = round((lp_ab + lp_bc) / 2, 6)
    assert out[1]["n_bigrams"] == 2
    assert out[1]["kn_avg_logp"] == avg1
    assert out[1]["kn_ppl"] == round(2.0 ** -((lp_ab + lp_bc) / 2), 6)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["kn_avg_logp"] == lp_ab
    assert out[3]["n_bigrams"] == 0
    assert out[3]["kn_avg_logp"] is None and out[3]["kn_ppl"] is None


# --- HNSW-shaped layered graph ANN (r10 verdict stretch ask #8) ---


def test_hnsw_structure_is_deterministic_and_bounded(spark):
    """hnsw_build's level draw must be geometric-shaped (layer l holds
    roughly half of layer l-1, never more), every (layer, node)
    out-degree must respect m, every edge must connect layer members
    only, and the whole build must replay bit-identically (the
    deterministic xxhash level draw + tie-broken edge selection)."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    levels, adj = similarity.hnsw_build(emb, m=4, max_level=3)
    counts = {
        r["lvl"]: r["count"]
        for r in levels.groupBy("lvl").count().collect()
    }
    assert set(counts) == {0, 1, 2, 3}
    n = sum(counts.values())
    pop = [sum(c for l, c in counts.items() if l >= i) for i in range(4)]
    for i in range(1, 4):
        # each layer's population within a loose binomial band of half
        # the previous (the cap level 3 absorbs the geometric tail)
        assert pop[i] < pop[i - 1]
    assert pop[0] == n

    deg = adj.groupBy("lvl", "src").count().agg(F.max("count")).first()[0]
    assert deg <= 4
    # edges only between members of the layer
    mem = levels.select(F.col("vec_id").alias("src"), "lvl")
    bad = (
        adj.alias("a")
        .join(mem.alias("m"), ["src"])
        .filter(F.col("a.lvl") > F.col("m.lvl"))
        .count()
    )
    assert bad == 0

    again = similarity.hnsw_build(emb, m=4, max_level=3)[1]
    assert sorted(map(tuple, adj.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_hnsw_topk_recall_against_exact(spark):
    """The layered beam search must recover most exact top-5 cosine
    neighbors (measured 0.9 at sf0.001 with defaults — pin a safe
    floor), carry exact re-ranked cosines, and stay deterministic
    across runs. Also exercise the LSH candidate branch
    (dense_layer_cap=0 via a tiny cap at build is covered by forcing
    hnsw_build directly)."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["q_id"], r["n_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    got = similarity.hnsw_topk(emb, queries, k=5).collect()
    ann = {(r["q_id"], r["n_id"]) for r in got}
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.6, f"HNSW recall@5 = {recall}"
    # per-query output shape matches the shared rerank contract
    per_q = {}
    for r in got:
        per_q.setdefault(r["q_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())

    again = {
        (r["q_id"], r["n_id"])
        for r in similarity.hnsw_topk(emb, queries, k=5).collect()
    }
    assert again == ann


def test_hnsw_build_lsh_branch_still_connects(spark):
    """With dense_layer_cap=0 every layer takes the LSH-bucketed
    candidate path (the 100 TB branch): the graph must still produce
    edges for the populated layers and respect the degree bound."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    levels, adj = similarity.hnsw_build(
        emb, m=4, max_level=2, dense_layer_cap=0
    )
    assert adj.count() > 0
    deg = adj.groupBy("lvl", "src").count().agg(F.max("count")).first()[0]
    assert deg <= 4


def test_label_propagation_separates_cliques(spark):
    """LPA on two K4 cliques joined by one bridge edge: after 4
    synchronous rounds each clique converges to one community (the
    min node id in the clique wins the plurality vote), the bridge
    does NOT merge them (one cross-vote never outvotes three in-clique
    votes), and a disjoint edge pair forms its own 2-community."""
    from datawarehouse_spark.operators.graph import label_propagation

    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = k4a + k4b + [(3, 10)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r["node"]: r for r in
           label_propagation(pairs, n_iters=4).collect()}
    assert len(out) == 10
    comm_a = {out[v]["community"] for v in range(4)}
    comm_b = {out[v]["community"] for v in range(10, 14)}
    assert len(comm_a) == 1 and len(comm_b) == 1
    assert comm_a != comm_b                      # bridge did not merge
    assert all(out[v]["comm_size"] == 4 for v in list(range(4))
               + list(range(10, 14)))
    # disjoint pair: each endpoint adopts the other's label every
    # round (degree-1 nodes), so after an EVEN round count both carry
    # their own id again — two singleton communities, size 1 each
    assert out[100]["comm_size"] == 1 and out[101]["comm_size"] == 1


def test_label_propagation_tie_breaks_to_min_label(spark):
    """Deterministic tie-break: a node with two equal-vote neighbor
    labels adopts the SMALLEST. Path 1-2-3 (ends fixed by symmetric
    re-adoption): in round 1 node 2 sees one vote each for labels 1
    and 3 and must pick 1 (after that the path's 2-cycle oscillation
    takes over — rounds alternate node 2 between 1 and the re-imported
    2 — which is exactly why the iteration count is FIXED and replayed
    identically by the oracle rather than run "to convergence")."""
    from datawarehouse_spark.operators.graph import label_propagation

    pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                  "doc_a long, doc_b long")
    out = {r["node"]: r["community"] for r in
           label_propagation(pairs, n_iters=1).collect()}
    assert out[2] == 1
    # and the odd-round trajectory keeps the tie-break visible
    out3 = {r["node"]: r["community"] for r in
            label_propagation(pairs, n_iters=3).collect()}
    assert out3[2] == 1


def test_lpa_communities_refine_connected_components(spark):
    """On the document near-dup graph, LPA communities must be a
    REFINEMENT of the connected components (labels only ever travel
    along edges, so a community can never span two components) — the
    structural relationship that makes LPA the 'split the
    over-merged CC cluster' tool: CC merges mirror families through
    any single spurious edge, LPA keeps dense cores separate."""
    from datawarehouse_spark.operators import dedup
    from datawarehouse_spark.operators.graph import label_propagation

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3)
    comm = label_propagation(pairs, n_iters=4)
    cc = dedup.dedup_clusters(pairs)
    cols = set(cc.columns)
    assert "doc_id" in cols, cols
    cluster_col = [c for c in cc.columns if c != "doc_id"][0]
    j = comm.join(
        cc.select(F.col("doc_id").alias("node"),
                  F.col(cluster_col).alias("component")),
        "node",
    )
    # every LPA community maps into exactly one CC component
    viol = (
        j.groupBy("community")
        .agg(F.countDistinct("component").alias("n_comp"))
        .filter(F.col("n_comp") > 1)
        .count()
    )
    assert viol == 0
    # and the refinement is real on this fixture: at least as many
    # communities as components
    n_comm = comm.select("community").distinct().count()
    n_comp = cc.select(cluster_col).distinct().count()
    assert n_comm >= n_comp


def test_topm_rows_matches_full_lexsort_under_ties():
    """The argpartition+head-lexsort kernel must select EXACTLY what
    the naive full lexsort selects — including on heavily-tied score
    matrices where the boundary value spills past the head and the
    exactness fallback has to fire. Deterministic seed; both the
    spill and no-spill paths are exercised."""
    import numpy as np

    from datawarehouse_spark.operators.similarity import _topm_rows

    rng = np.random.default_rng(7)
    ids = rng.permutation(500).astype(np.int64)
    # quantized scores -> massive ties (boundary spill guaranteed for
    # some rows); plus a -inf column to mimic the self-mask
    S = np.round(rng.random((64, 500)), 1)
    S[:, 3] = -np.inf
    for k in (1, 6, 80):
        want = [np.lexsort((ids, -S[i]))[:k] for i in range(len(S))]
        got = _topm_rows(S, ids, k)
        for i in range(len(S)):
            assert (want[i] == got[i]).all(), (i, k)
    # continuous scores (no ties) — fast path only
    S2 = rng.random((32, 500))
    want2 = [np.lexsort((ids, -S2[i]))[:6] for i in range(len(S2))]
    got2 = _topm_rows(S2, ids, 6)
    for i in range(len(S2)):
        assert (want2[i] == got2[i]).all()


def test_hnsw_build_zero_norm_vector_edges_deterministic(spark):
    """r11 review fix: a zero-norm embedding yields NaN cosines; both
    kernels pin NaN to -inf so the zero vector ranks WORST (never
    chosen over a real neighbor) and the build stays deterministic —
    run twice, identical edges, and the zero vector's own edges still
    exist (every candidate ties at -inf, min-id tie-break)."""
    from datawarehouse_spark.operators import similarity

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1)])
            for i in range(40)] + [(99, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    _, adj1 = similarity.hnsw_build(emb, m=4, max_level=2)
    _, adj2 = similarity.hnsw_build(emb, m=4, max_level=2)
    e1 = sorted(tuple(r) for r in adj1.collect())
    e2 = sorted(tuple(r) for r in adj2.collect())
    assert e1 == e2 and len(e1) > 0
    # the zero vector still gets out-edges (ties broken by min id)
    assert any(src == 99 for _, src, _ in e1)


def test_exact_dup_spans_hand_crafted(spark):
    """r12 (r11 verdict ask #6) — exact substring dedup, Lee et al.
    2021 semantics on a corpus where the answer is computable by hand:
    a 20-token block copied across documents is found at the exact
    positions in BOTH docs; a document repeating its own block twice
    (with a gap > L between window starts) yields two disjoint spans
    (within-doc repeats count, as in the paper); overlapping
    duplicated windows merge into one maximal span; sub-L documents
    and unique text emit nothing."""
    from datawarehouse_spark.operators import dedup

    x = [f"x{i}" for i in range(30)]
    blk = [f"b{i}" for i in range(20)]
    rows = [
        # doc 1: 30 unique tokens; positions 5..24 copied into doc 2
        (1, " ".join(x)),
        (2, " ".join([f"y{i}" for i in range(5)] + x[5:25]
                     + [f"z{i}" for i in range(5)])),
        # doc 3: its own 20-token block twice, gap of 3 tokens
        (3, " ".join(blk + ["c0", "c1", "c2"] + blk)),
        # doc 4: too short to hold any L-window
        (4, " ".join(f"s{i}" for i in range(10))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.exact_dup_spans(docs, min_len=20).collect()
    }
    assert got == {
        (1, 5, 24, 20),
        (2, 5, 24, 20),
        (3, 0, 19, 20),
        (3, 23, 42, 20),
    }
    # overlap merge: extending the copy by one token adds one more
    # duplicated window (pos 5 and 6 in both docs) -> ONE merged span
    rows2 = [
        (1, " ".join(x)),
        (2, " ".join([f"y{i}" for i in range(5)] + x[5:26]
                     + [f"z{i}" for i in range(4)])),
    ]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.exact_dup_spans(docs2, min_len=20).collect()
    }
    assert got2 == {(1, 5, 25, 21), (2, 5, 25, 21)}


def test_ffd_packing_hand_check_and_invariants(spark):
    """r13 (VERDICT r12 ask #8) — first-fit-decreasing packing.
    Hand-check: 8 docs, budget 10, one packing group (group_size=8).
    Lengths sorted descending 9,7,6,5,4,3,2,2 pack by first-fit as
    bins [9],[7,3],[6,4],[5,2,2] — greedy fills the EARLIEST bin with
    room, so doc len 3 lands next to 7, not 6. Invariants on the
    fixture corpus: hard budget respected (a bin over budget must be
    a single oversized item), every doc assigned exactly once, and
    bin_load / n_in_bin equal the recomputed sums of the members."""
    from datawarehouse_spark.operators import text as T

    rows = [
        (1, " ".join(["w"] * 9)),
        (2, " ".join(["w"] * 7)),
        (3, " ".join(["w"] * 6)),
        (4, " ".join(["w"] * 5)),
        (5, " ".join(["w"] * 4)),
        (6, " ".join(["w"] * 3)),
        (7, " ".join(["w"] * 2)),
        (8, " ".join(["w"] * 2)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_load"], r["n_in_bin"])
        for r in T.ffd_packing(docs, budget=10, group_size=8).collect()
    }
    assert got == {
        1: (0, 9, 1),          # 9 alone
        2: (1, 10, 2), 6: (1, 10, 2),   # 7+3 (first fit, not best fit)
        3: (2, 10, 2), 5: (2, 10, 2),   # 6+4
        4: (3, 9, 3), 7: (3, 9, 3), 8: (3, 9, 3),  # 5+2+2
    }

    corpus = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "text")
    )
    out = T.ffd_packing(corpus, budget=128, group_size=8).collect()
    assert len(out) == corpus.count()  # every doc assigned once
    assert len({r["doc_id"] for r in out}) == len(out)

    # the first projection keeps only the id column, so any other input
    # column packs the same rows, whatever its name (tests/test_reserved.py
    # pins the id column's own check)
    plain = sorted(T.ffd_packing(docs, budget=10, group_size=8).collect())
    for extra in ("bin", "BIN"):
        assert sorted(T.ffd_packing(
            docs.withColumn(extra, F.lit(1)), budget=10, group_size=8,
        ).collect()) == plain
    by_bin: dict[int, list] = {}
    for r in out:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for rows_ in by_bin.values():
        load = rows_[0]["bin_load"]
        assert load == sum(r["n_tokens"] for r in rows_)
        assert all(r["n_in_bin"] == len(rows_) for r in rows_)
        # hard budget: overflow only for a lone oversized item
        assert load <= 128 or (
            len(rows_) == 1 and rows_[0]["n_tokens"] > 128
        )


def test_widen_narrow_input_layout_contract(spark):
    """widen_narrow_input widens a sub-core-count layout to the
    session parallelism, preserves the row multiset, and leaves an
    already-wide layout untouched (the scale no-op guarantee)."""
    from datawarehouse_spark.operators.partitioning import widen_narrow_input

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    wide = widen_narrow_input(narrow)
    assert wide.rdd.getNumPartitions() == par
    assert sorted(r.id for r in wide.collect()) == list(range(100))

    already = spark.range(100).repartition(par + 3)
    assert widen_narrow_input(already) is already
