"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast cross join
of the (small) query set against the corpus with a JVM-side fold for
the dot product — no Python in the loop. The scale path is
random-hyperplane LSH bucketing: corpus and queries hash to sign
buckets, candidate ranking only touches same-bucket vectors.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from datawarehouse_spark.operators.pin import pinned


def dot_cols(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ in double — sequential fold, deterministic order."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def exact_rerank(pairs: DataFrame, k: int) -> DataFrame:
    """Shared ranking contract of every top-k variant (exact and
    approximate): exact cosine over (q_vec, c_vec) pair rows, rounded
    to 6 (engines may differ ~1ulp in the norm combination), ranked per
    query with ties broken by neighbor id. Keeping this in ONE place
    pins the exact/approximate outputs to the same contract — the
    recall tests compare them set-wise."""
    cos = dot_cols("q_vec", "c_vec") / (norm_col("q_vec") * norm_col("c_vec"))
    scored = pairs.select("q_id", "n_id", F.round(cos, 6).alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Output: q_id, n_id, cos (rounded to 6 — engines may differ ~1ulp in
    the norm combination), rank. Ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("n_id"))
    return exact_rerank(pairs, k)


def hyperplane_lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Sign-bucket each vector against deterministic pseudo-random
    hyperplanes (components derived from md5 of (plane, dim-index) —
    reproducible with no RNG state).

    Returns id + bucket string of n_planes sign bits. Same-bucket
    vectors are ANN candidates; expected candidate fraction 2^-n_planes
    per pair for random data. This is the 100 TB path: the bucket id is
    a shuffle key, so candidate generation is a hash join, not O(n²).

    ``dim`` defaults to the length of the first vector (one head()
    probe at index-build time). Passing a WRONG dim is silently fatal:
    ``zip_with`` null-pads the shorter side, the projection becomes
    NULL, every bit falls to '0' and ALL vectors collapse into one
    bucket — the candidate join degenerates to the O(n²) product this
    function exists to avoid. Hence the explicit probe, never a
    hardcoded default.
    """
    if dim is None:
        first = df.select(vec_col).head()
        if first is None:
            dim = 1  # empty input: any plane length bucket-tags nothing
        else:
            dim = len(first[0])
    # plane component p_{j,i} in [-0.5, 0.5): md5-derived uniform
    def plane_component(j: int, i: int) -> float:
        import hashlib

        h = hashlib.md5(f"{j}|{i}".encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32) - 0.5

    bits = []
    for j in range(n_planes):
        comps = [plane_component(j, i) for i in range(dim)]
        arr = F.array(*[F.lit(c) for c in comps])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(id_col, F.concat(*bits).alias("bucket"))


def cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a < id_b, cos ≥ threshold).

    Exact all-pairs scoring as **block matrix multiply**: vectors are
    hashed into ``n_blocks`` blocks, each of the n_blocks·(n_blocks+1)/2
    block pairs becomes one `applyInPandas` group whose task computes
    the block-cross cosine matrix with one BLAS GEMM and emits only the
    ≥-threshold pairs. ~70× faster than a row-at-a-time pair join at
    sf0.1 (1.1 s vs 75 s) and the shape that scales: shuffle volume is
    O(n·n_blocks) vector replicas (not O(n²) pair rows), FLOPs run in
    vectorized numpy, and per-task memory is two blocks — pick
    n_blocks ≈ √cluster-parallelism. An LSH/IVF prefilter
    (:func:`hyperplane_lsh_buckets`, :func:`ivf_topk`) cuts the
    candidate blocks further when the threshold is high.
    """
    emb = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    rep = (
        emb.withColumn(
            "other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("pi", F.least("blk", "other"))
        .withColumn("pj", F.greatest("blk", "other"))
    )

    def score(key, pdf):
        pi, pj = key
        A = pdf[pdf.blk == pi]
        B = pdf[pdf.blk == pj] if pj != pi else A
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        MA = np.vstack(A["v"].values)
        MB = MA if pj == pi else np.vstack(B["v"].values)
        na = np.linalg.norm(MA, axis=1, keepdims=True)
        nb = na if pj == pi else np.linalg.norm(MB, axis=1, keepdims=True)
        S = np.round((MA @ MB.T) / (na * nb.T), 6)
        ia, jb = np.where(S >= threshold)
        ids_a = A["vid"].values[ia]
        ids_b = B["vid"].values[jb]
        cs = S[ia, jb]
        if pi == pj:
            # symmetric matrix: each unordered pair appears twice
            keep = ids_a < ids_b
            lo, hi, cs = ids_a[keep], ids_b[keep], cs[keep]
        else:
            # distinct blocks: each unordered pair appears once; order ids
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cs})

    return rep.groupBy("pi", "pj").applyInPandas(
        score, "id_a long, id_b long, cos double"
    )


def _kmeans_pp_init(emb: DataFrame, n_cells: int,
                    sample_n: int | None = None) -> np.ndarray:
    """Deterministic k-means++-style init: greedy farthest-point over
    a ``sample_n`` sample picked by md5 of the id — deterministic
    across runs yet decorrelated from insertion/id order (the same
    rationale as :func:`pq_train_codebooks`: on corpora whose ids
    track content or crawl order, a lowest-id sample would train
    centroids on one corner of the space). First centroid = the
    md5-lowest vector; each next = the sample vector with the largest
    cosine distance to its nearest chosen centroid (np.argmax breaks
    ties to the lowest sample index). Zero RNG state, so trainings
    stay bit-reproducible. Zero-norm vectors are excluded (cosine
    undefined)."""
    sample_n = sample_n or max(32 * n_cells, 256)
    rows = (
        emb.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(map(float, r["v"])) for r in rows])
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    if len(X) < n_cells:
        raise ValueError(
            f"need ≥ {n_cells} non-zero vectors to init {n_cells} cells; "
            f"sample had {len(X)}"
        )
    chosen = [0]
    d = 1.0 - X @ X[0]
    for _ in range(n_cells - 1):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - X @ X[nxt])
    return X[chosen].copy()


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means centroids via distributed Lloyd iterations.

    Deterministic end to end: init is greedy-farthest-point k-means++
    over the md5-ordered sample (:func:`_kmeans_pp_init` — no RNG),
    assignment ties break on lowest cell (np.argmax), and the per-cell
    mean uses an order-independent exact decimal sum so shuffle order
    can't perturb centroids between runs.

    Scale shape: centroids broadcast into an Arrow-vectorized assignment
    UDF (one GEMM per batch); new centroids come from a map-combined
    groupBy over posexploded dimensions (n_cells × dim rows collected —
    the centroid table is tiny by definition). Each iteration is one
    shuffle of size n_cells × dim, independent of corpus size.
    """
    emb = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # each Lloyd iteration scans emb once (assign + posexplode agg);
    # persist so iterations hit memory, not the parquet scan — at
    # cluster scale this is the difference between n_iter scans of the
    # corpus and one
    with pinned(emb):
        cents = _kmeans_pp_init(emb, n_cells)

        for _ in range(n_iter):
            frozen = cents.copy()

            # NOTE: the closure re-pickles per iteration — negligible at
            # n_iter≈4 (centroid matrix is n_cells×dim floats); hoist to
            # an explicit sc.broadcast if iterations ever grow large.
            @F.pandas_udf("int")
            def assign(vs: pd.Series) -> pd.Series:
                m = np.vstack(vs.values)
                # zero vectors: cos undefined → norm clamped, score 0,
                # argmax deterministically picks cell 0 (never
                # NaN-poisons the whole batch)
                norms = np.maximum(
                    np.linalg.norm(m, axis=1, keepdims=True), 1e-12
                )
                m = m / norms
                return pd.Series(
                    np.argmax(m @ frozen.T, axis=1).astype("int32")
                )

            stats = (
                emb.select(
                    assign(F.col("v")).alias("cell"),
                    F.posexplode("v").alias("d", "x"),
                )
                .groupBy("cell", "d")
                .agg(
                    F.sum(F.col("x").cast("decimal(38,12)"))
                    .cast("double").alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            nxt = frozen.copy()  # empty cells keep their previous centroid
            by_cell: dict[int, np.ndarray] = {}
            for r in stats:
                by_cell.setdefault(r["cell"], np.zeros(cents.shape[1]))[
                    r["d"]
                ] = r["s"] / r["n"]
            for cell, mean in by_cell.items():
                norm = np.linalg.norm(mean)
                if norm > 0:
                    nxt[cell] = mean / norm
            cents = nxt
    return cents.tolist()


def nearest_cells(cents: list[list[float]], vec: str, n: int) -> Column:
    """Array of the ``n`` centroid cell-ids nearest to column ``vec`` by
    cosine — a pure JVM expression (argmax via struct array_sort, no
    UDF), so coarse quantization stays inside whole-stage codegen.
    ``cents`` is the tiny driver-side centroid table (n_cells × dim)."""
    scored = []
    for cell, cvals in enumerate(cents):
        cvec = F.array(*[F.lit(float(x)) for x in cvals])
        dot = F.aggregate(
            F.zip_with(F.col(vec), cvec, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cnorm = sum(float(x) * float(x) for x in cvals) ** 0.5
        # zero-norm vectors (cos NULL via /0) pin to -2.0 so every cell
        # ties and the tie-break resolves them to cell 0 — the same
        # convention as the k-means assignment UDF
        cos = F.coalesce(
            dot / (norm_col(vec) * F.lit(cnorm)), F.lit(-2.0)
        )
        # sort key carries -cell so reversed ascending order = cos DESC,
        # cell ASC: cosine ties break to the LOWEST cell id, matching
        # the k-means argmax convention (reversing a (cos, cell) struct
        # would tie to the HIGHEST cell — routing a tied vector to a
        # different cell than the one its training statistics built)
        scored.append(
            F.struct(
                cos.alias("cos"),
                F.lit(-cell).alias("neg_cell"),
                F.lit(cell).alias("cell"),
            )
        )
    ranked = F.reverse(F.array_sort(F.array(*scored)))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cell"])


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.42,
    cluster_col: str | None = None,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the corpus, then inside each
    cluster drop every vector that is a near-duplicate (cos ≥
    ``threshold``) of a lower-id vector.

    Keep rule: a vector is kept iff NO lower-id vector in its cluster
    has cos ≥ threshold — deterministic (id order), one pass, and
    SQL-expressible, which is what makes the op oracle-checkable.
    Output: vec_id, cluster, keep, max_prior_sim (rounded 6; NULL for
    the cluster's lowest id).

    Scale shape: the cluster id is the shuffle key; per-cluster scoring
    is one BLAS GEMM inside ``applyInPandas`` (Arrow batches). With
    k-means cells (``cluster_col=None``) cluster sizes are ~n/n_cells —
    pick n_cells so a cell's vectors fit an executor (same math as
    :func:`ivf_topk`); with a caller-supplied ``cluster_col`` the group
    size is the caller's contract. Unlike all-pairs dedup this never
    materializes O(n²) pair rows — SemDeDup's point at 100 TB.
    """
    cols = [
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ]
    if cluster_col is not None:
        cols.append(F.col(cluster_col).cast("bigint").alias("cluster"))
    emb = corpus.select(*cols)
    if cluster_col is None:
        cents = kmeans_centroids(corpus, n_cells, id_col=id_col, vec_col=vec_col)
        emb = emb.withColumn("cluster", nearest_cells(cents, "v", 1)[0].cast("bigint"))

    def mark(key, pdf):
        pdf = pdf.sort_values("vid")
        M = np.vstack(pdf["v"].values)
        norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        Mn = M / norms
        S = np.round(Mn @ Mn.T, 6)
        n = len(pdf)
        prior = np.tril(np.ones((n, n), dtype=bool), k=-1)
        mx = np.where(prior, S, -np.inf).max(axis=1, initial=-np.inf)
        return pd.DataFrame(
            {
                "vec_id": pdf["vid"].values,
                "cluster": np.full(n, key[0], dtype="int64"),
                "keep": ~(mx >= threshold),
                "max_prior_sim": [float(x) if np.isfinite(x) else None for x in mx],
            }
        )

    return emb.groupBy("cluster").applyInPandas(
        mark, "vec_id long, cluster long, keep boolean, max_prior_sim double"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    train_iters: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``n_cells`` cells, probe the ``n_probe`` nearest cells per
    query, exact re-rank inside probed cells.

    Centroids come from deterministic spherical k-means
    (:func:`kmeans_centroids`) unless supplied — n_cells×dim floats on
    the driver, tiny. Cell assignment is a JVM expression (argmax of
    struct(cos, -cell) via array_max — no UDF); the cell id becomes the
    shuffle key, so candidate generation is a hash join over
    ~n_probe/n_cells of the corpus instead of a full cross join.
    """
    cents = centroids or kmeans_centroids(
        corpus, n_cells, train_iters, id_col, vec_col
    )

    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("c_vec"),
        nearest_cells(cents, vec_col, 1)[0].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_cells(cents, vec_col, n_probe)).alias("cell"),
    )
    pairs = c.join(F.broadcast(q), "cell").filter(F.col("q_id") != F.col("n_id"))
    return exact_rerank(pairs, k)


def _grid_probes(spark, queries: DataFrame, state: dict, n_probe: int,
                 id_col: str, vec_col: str) -> DataFrame:
    """(q_id, cell) rows: each query's ``n_probe`` nearest coarse
    centroids of the trained grid k-means (``state`` from
    :func:`kmeans_assign`), by the identical round-6 / exact-decimal
    arithmetic the assignment used, ties (dist2, cid) ascending —
    the probe stage shared by :func:`ivf_topk_grid` and
    :func:`ivfpq_topk_grid`."""
    cen = spark.createDataFrame(
        [
            (int(cid), pos, float(qv))
            for cid, row in zip(state["cids"], state["C"])
            for pos, qv in enumerate(row)
        ],
        "cid int, pos int, q double",
    )
    qe = queries.select(
        F.col(id_col).alias("q_id"),
        F.posexplode(
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double"), 6)
            )
        ).alias("pos", "v"),
    )
    d2 = (
        qe.join(F.broadcast(cen), "pos")
        .groupBy("q_id", "cid")
        .agg(
            F.sum(
                F.round(
                    (F.col("v") - F.col("q")) * (F.col("v") - F.col("q")),
                    6,
                ).cast("decimal(38,6)")
            ).cast("double").alias("dist2")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("cid"))
    return (
        d2.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= n_probe)
        .select("q_id", F.col("cid").alias("cell"))
    )


def ivf_topk_grid(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "gemm",
) -> DataFrame:
    """IVF approximate top-k on the exact decimal grid — the
    oracle-checkable sibling of :func:`ivf_topk` (the r8 SQ8
    integer-micro-domain pattern applied to index TRAINING, VERDICT r8
    ask #3): the coarse quantizer is :func:`kmeans_assign`'s Lloyd
    k-means, whose round-6 components + exact decimal distance sums +
    (dist2, cid) tie-break replay bit-for-bit as unrolled DuckDB CTEs.
    Corpus cells ARE the final k-means assignment; each query probes
    the ``n_probe`` nearest of the SAME centroids that assignment used
    (c_{iters-1}) by the identical decimal arithmetic; candidates
    re-rank through :func:`exact_rerank`, the contract the LSH oracle
    already replays. Every stage deterministic → the whole index +
    search path sits under the driver's hash gate, exactly as LSH
    graduated in r8.

    Scale shape: identical to :func:`ivf_topk` — the cell id is the
    shuffle key, candidate generation touches ~n_probe/n_cells of the
    corpus via one hash join (queries broadcast), and training is one
    corpus scan per Lloyd iteration plus a k·dim driver sync. The
    probe ranking is a window over |queries|·n_cells rows — query-side
    tiny. Recall properties stay asserted in tests alongside
    :func:`ivf_topk`'s.
    """
    spark = corpus.sparkSession
    state: dict = {}
    assign = kmeans_assign(
        corpus, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        impl=impl, _state=state,
    )
    probes = _grid_probes(spark, queries, state, n_probe, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec")
    ).join(
        assign.select(
            F.col(id_col).alias("n_id"), F.col("cluster").alias("cell")
        ),
        "n_id",
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).join(probes, "q_id")
    pairs = c.join(F.broadcast(q), "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    return exact_rerank(pairs, k)


def ivfpq_topk_grid(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    shortlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "gemm",
) -> DataFrame:
    """IVF-PQ approximate top-k on the exact decimal grid — the
    oracle-checkable sibling of :func:`ivfpq_topk`, completing VERDICT
    r8 ask #3's parenthetical: coarse IVF routing via the grid k-means
    (:func:`ivf_topk_grid`'s quantizer), PRODUCT-QUANTIZED
    asymmetric-distance scoring inside probed cells, exact cosine
    re-rank of the top ``shortlist``·k ADC candidates per query.

    The whole pipeline replays as unrolled DuckDB CTEs
    (queries/llm.py::_ivfpq_ann_oracle) because every float leaves the
    decimal grid nowhere: PQ codebooks train as SUBSPACE k-means where
    the subspace is a data dimension — the exploded (vid, pos, v)
    GRID-NORMALIZED component table (round-6 of x/||x||; the norm is
    the left-associative float64 fold the LSH oracle replays
    bit-for-bit, sqrt/division IEEE-identical in both engines) with
    ``sub = pos // dsub`` runs ONE shared Lloyd recipe: round-6
    squared terms, exact decimal distance sums and means, (d2, code)
    tie-break, init = the ksub md5-lowest vectors' slices (the same
    ids in every subspace, so one md5 ordering covers all m books).
    PQ must quantize the NORMALIZED vector for cosine retrieval —
    euclidean ADC on raw vectors ranks by norm, not angle: measured
    recall@5 0.08 raw vs 0.44 normalized at m=8/ksub=16/shortlist=8
    on the sf0.001 fixture, level with the FAISS-shaped
    :func:`ivfpq_topk`'s 0.40 under the same 0.64 coarse-routing
    bound. The coarse routing stays on the raw grid, matching
    :func:`ivf_topk_grid`'s cells.

    Like :func:`kmeans_assign`, assignment/encoding runs as an
    Arrow-batched GEMM kernel on the same grid arithmetic (each
    squared term rounded to 6, sums snapped back onto the 1e-6 grid
    before argmin, lowest-code ties) — the float64 sum of ≤dsub
    pre-rounded terms sits ~1e-13 from the decimal value, far inside
    the grid — while the re-means and the ADC table stay exact-decimal
    DataFrame aggregations; oracle parity at sf0.001 AND sf0.01 is the
    engines-equal proof. Unlike :func:`pq_train_codebooks` (driver-
    sample float recipe), training is distributed over the full corpus.

    Scale shape: per training iteration ONE Arrow corpus scan (codes)
    plus one map-combined decimal re-mean to a codebook-sized driver
    sync; encoding is the same scan once more; search shuffles only
    (cell) for candidate generation and (q_id, n_id) for the ADC
    rollup — the corpus travels as m small codes, full vectors are
    read only for the shortlist re-rank, exactly the FAISS IVFPQ
    memory story.
    """
    if impl != "gemm":
        raise ValueError(f"impl must be 'gemm', got {impl!r}")
    spark = corpus.sparkSession

    # coarse routing (grid k-means cells + probes) and PQ codebook
    # training are independent until candidate generation, but each is
    # a serial chain of driver-synced jobs (Lloyd re-mean collects /
    # codebook re-mean collects) whose stage tails idle the executors.
    # Run the coarse chain from a background thread so its jobs
    # back-fill the PQ chain's tails (guide §2.6 — the suite-layer
    # precedent); both chains' computations and collects are unchanged
    # and deterministic, only the job overlap changes.
    from concurrent.futures import ThreadPoolExecutor

    def _coarse() -> tuple[DataFrame, DataFrame]:
        st: dict = {}
        a = kmeans_assign(
            corpus, k=n_cells, iters=iters, id_col=id_col,
            vec_col=vec_col, impl=impl, _state=st,
        )
        return a, _grid_probes(spark, queries, st, n_probe, id_col, vec_col)

    first = corpus.select(vec_col).head()
    dim = len(first[0]) if first is not None else m
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    dec = "decimal(38,6)"

    # submit after the argument validation so an invalid call never
    # leaves a live training thread behind
    pool = ThreadPoolExecutor(max_workers=1)
    coarse_f = pool.submit(_coarse)

    # grid-normalized wide + exploded component tables
    nrm = norm_col(vec_col)
    nv = F.when(
        nrm == 0, F.transform(F.col(vec_col), lambda x: F.lit(0.0))
    ).otherwise(
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") / nrm, 6)
        )
    )
    wide = corpus.select(F.col(id_col).alias("vid"), nv.alias("nv"))
    ve = wide.select(
        "vid", F.posexplode("nv").alias("pos", "v")
    ).withColumn("sub", (F.col("pos") / dsub).cast("int"))
    with pinned(wide):
        try:
            # init codebooks: the ksub md5-lowest vectors, code = md5 rank.
            # ONE TakeOrdered collect carries ids AND their nv components
            # (formerly an id collect plus a second full-scan isin-filter
            # collect over the exploded table — r14, guide §1.2);
            # enumerate(nv) is exactly ve's (pos, v) for each vid.
            init = (
                wide.orderBy(F.md5(F.col("vid").cast("string")), "vid")
                .limit(ksub)
                .collect()
            )
            code_of = {r["vid"]: i for i, r in enumerate(init)}
            books = [
                (code_of[r["vid"]], pos, float(v))
                for r in init
                for pos, v in enumerate(r["nv"])
            ]

            def code_rows(book_rows):
                """(vid, sub, code) via the Arrow GEMM kernel — same grid
                arithmetic as the SQL/oracle shape (terms rounded to 6,
                sums snapped to the grid, lowest-code ties)."""
                by_sub: dict[int, dict[int, np.ndarray]] = {}
                for code, pos, q in book_rows:
                    by_sub.setdefault(pos // dsub, {}).setdefault(
                        code, np.zeros(dsub)
                    )[pos % dsub] = q
                subs = []
                for j in range(m):
                    cids = sorted(by_sub.get(j, {}))
                    B = (
                        np.array([by_sub[j][c] for c in cids])
                        if cids else np.zeros((0, dsub))
                    )
                    subs.append((np.array(cids, dtype="int32"), B))

                @F.pandas_udf("array<int>")
                def enc(vs: pd.Series) -> pd.Series:
                    X = np.vstack(vs.values)
                    out = np.empty((len(X), m), dtype="int32")
                    for j, (cids, B) in enumerate(subs):
                        S = X[:, j * dsub:(j + 1) * dsub]
                        D = np.round(
                            (S[:, None, :] - B[None, :, :]) ** 2, 6
                        ).sum(axis=2)
                        out[:, j] = cids[np.argmin(np.round(D, 6), axis=1)]
                    return pd.Series(list(out))

                return wide.select(
                    "vid", F.posexplode(enc(F.col("nv"))).alias("sub", "code")
                )

            for _ in range(iters):
                pa = code_rows(books)
                books = [
                    (r["code"], r["pos"], float(r["q"]))
                    for r in ve.join(pa, ["vid", "sub"])
                    .groupBy("code", "pos")
                    .agg(
                        F.round(
                            F.sum(F.col("v").cast(dec)).cast("double")
                            / F.count(F.lit(1)),
                            6,
                        ).alias("q")
                    )
                    .collect()
                ]

            # encode the corpus against the final books; the query side of
            # the ADC table is the exact-decimal distance table restricted
            # to query vids (tiny), so ADC sums replay in SQL verbatim
            codes = code_rows(books)
            cen = spark.createDataFrame(books, "code int, pos int, q double")
            qd = (
                ve.join(
                    F.broadcast(
                        queries.select(F.col(id_col).alias("vid")).distinct()
                    ),
                    "vid",
                )
                .join(F.broadcast(cen), "pos")
                .groupBy(
                    F.col("vid").alias("q_id"), "sub", "code"
                )
                .agg(
                    F.sum(
                        F.round(
                            (F.col("v") - F.col("q")) * (F.col("v") - F.col("q")),
                            6,
                        ).cast(dec)
                    ).cast("double").alias("d2")
                )
            )

            # join the coarse chain — by now its Lloyd collects have run
            # concurrently with the codebook training above
            assign, probes = coarse_f.result()
            cand = (
                assign.select(
                    F.col(id_col).alias("n_id"), F.col("cluster").alias("cell")
                )
                .join(F.broadcast(probes), "cell")
                .filter(F.col("q_id") != F.col("n_id"))
                .select("q_id", "n_id")
            )
            adc = (
                cand.join(
                    codes.select(F.col("vid").alias("n_id"), "sub", "code"),
                    "n_id",
                )
                .join(F.broadcast(qd), ["q_id", "sub", "code"])
                .groupBy("q_id", "n_id")
                .agg(
                    F.sum(F.col("d2").cast(dec)).cast("double").alias("adc")
                )
            )
            ws = W.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("n_id"))
            short = (
                adc.withColumn("sr", F.row_number().over(ws))
                .filter(F.col("sr") <= shortlist * k)
                .select("q_id", "n_id")
            )
            pairs = (
                short.join(
                    corpus.select(
                        F.col(id_col).alias("n_id"),
                        F.col(vec_col).alias("c_vec"),
                    ),
                    "n_id",
                )
                .join(
                    F.broadcast(
                        queries.select(
                            F.col(id_col).alias("q_id"),
                            F.col(vec_col).alias("q_vec"),
                        )
                    ),
                    "q_id",
                )
            )
            return exact_rerank(pairs, k).localCheckpoint(eager=True)
        finally:
            # on the error path the coarse thread may still be running its
            # bounded collects — wait it out so nothing leaks past the call
            pool.shutdown(wait=True)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: LSH bucket join, exact cosine re-rank within
    candidates. Recall < 1 by construction (documented approximate op).
    ``dim`` is probed from the corpus when not given — corpus and
    queries must share it (see hyperplane_lsh_buckets on why a wrong
    dim silently degenerates to one bucket)."""
    if dim is None:
        first = corpus.select(vec_col).head()
        dim = len(first[0]) if first is not None else 1
    cb = hyperplane_lsh_buckets(corpus, n_planes, id_col, vec_col, dim).join(
        corpus, id_col
    )
    qb = hyperplane_lsh_buckets(queries, n_planes, id_col, vec_col, dim).join(
        queries, id_col
    )
    q = qb.select(
        F.col(id_col).alias("q_id"), F.col("bucket"), F.col(vec_col).alias("q_vec")
    )
    c = cb.select(
        F.col(id_col).alias("n_id"), F.col("bucket"), F.col(vec_col).alias("c_vec")
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("q_id") != F.col("n_id"))
    return exact_rerank(pairs, k)


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization — the standard 100 TB ANN memory shape
# (FAISS IVFPQ): corpus vectors live as m uint8 codes (m·log2(ksub)
# bits instead of dim·32), queries score candidates with an
# asymmetric-distance lookup table, survivors get an exact re-rank.

def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 8,
    sample_n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train per-subspace PQ codebooks: split the (L2-normalized)
    vector into ``m`` contiguous subvectors and run Lloyd k-means with
    ``ksub`` centroids independently in each subspace.

    Deterministic like :func:`kmeans_centroids`: training runs on a
    bounded ``sample_n`` sample picked by md5 of the id — deterministic
    across runs yet decorrelated from insertion/id order, so codebooks
    stay representative even when ids track content or source (the
    FAISS recipe uses a seeded random sample for the same reason) —
    greedy-farthest-point init per subspace, argmin ties to the lowest
    code. Returns an (m, ksub, dim//m) float array — a few KiB,
    broadcast-friendly.
    """
    sample_n = sample_n or max(64 * ksub, 512)
    rows = (
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(map(float, r["v"])) for r in rows])
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n < ksub:
        raise ValueError(f"need ≥ {ksub} sample vectors, have {n}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        # farthest-point init (euclidean), then Lloyd. Deliberately NOT
        # shared with _kmeans_pp_init: that one is spherical (cosine,
        # full-vector, normalized); subspace codebooks quantize raw
        # euclidean residual-like chunks — different metric, different
        # update rule, merging them would force one metric to lie.
        cent = [S[0]]
        d = ((S - S[0]) ** 2).sum(axis=1)
        for _ in range(ksub - 1):
            nxt = int(np.argmax(d))
            cent.append(S[nxt])
            d = np.minimum(d, ((S - S[nxt]) ** 2).sum(axis=1))
        C = np.vstack(cent)
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books[j] = C
    return books


def _pq_encoder(codebooks: np.ndarray):
    """Arrow-batched UDF mapping a vector column to its ``m`` PQ codes
    (nearest sub-centroid per subspace, after L2 normalization)."""
    mm, _, dsub = codebooks.shape
    books = codebooks.copy()

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        M = np.vstack(vs.values).astype(np.float64)
        norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        M = M / norms
        out = np.empty((len(M), mm), dtype=np.int32)
        for j in range(mm):
            S = M[:, j * dsub:(j + 1) * dsub]
            # ||s-c||² = ||s||² - 2s·c + ||c||²; argmin over codes
            d2 = -2.0 * (S @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return enc


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` uint8 codes. One Arrow-batched pass;
    output is (id, codes array<int>) — dim·32 bits becomes m·8, the
    compression that lets a 100 TB embedding column sit in cluster
    memory.
    """
    enc = _pq_encoder(codebooks)
    return corpus.select(
        F.col(id_col).alias("n_id"),
        enc(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse IVF routing (probe ``n_probe``
    cells), PQ asymmetric-distance scoring inside probed cells, then an
    exact cosine re-rank of the top ``shortlist``·k PQ candidates per
    query. Output schema matches :func:`cosine_topk` / :func:`ivf_topk`.

    Scale shape: the corpus is touched as (cell, n_id, m-byte codes) —
    the full-precision vectors are read ONLY for the per-query
    shortlist re-rank (a semi-join on ~shortlist·k·n ids). Scoring is a
    cogrouped ``applyInPandas`` per cell: the cell's code matrix is
    gathered once, each probing query builds its m×ksub lookup table
    and scores all codes with one numpy gather — no per-pair rows ever
    shuffle, and per-task memory is one cell's codes. At 1000 executors
    the cell id is the only shuffle key; codes are ~dim·4/m× smaller
    than the vectors they index.

    Requires an integral ``id_col``: the cogrouped ADC stage carries
    ids as int64 (``q_id long, n_id long``) so the per-cell numpy
    gather stays a primitive-typed array. (The sibling variants —
    cosine_topk / ivf_topk / ann_topk_lsh — accept any id type.)
    """
    id_type = corpus.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"ivfpq_topk requires an integral id column, got {id_col}: "
            f"{id_type} — the ADC stage's output schema and numpy buffers "
            "are int64; use cosine_topk/ivf_topk for non-integer ids"
        )
    cents = centroids or kmeans_centroids(
        corpus, n_cells, id_col=id_col, vec_col=vec_col
    )
    books = codebooks if codebooks is not None else pq_train_codebooks(
        corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
    )
    mm, _, dsub = books.shape

    # codes + coarse cell in ONE projection — one corpus scan, no
    # self-join (the corpus is touched again only for the shortlist
    # re-rank)
    enc = _pq_encoder(books)
    codes = corpus.select(
        F.col(id_col).alias("n_id"),
        enc(F.col(vec_col).cast("array<double>")).alias("codes"),
        nearest_cells(cents, vec_col, 1)[0].alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        F.explode(nearest_cells(cents, vec_col, n_probe)).alias("cell"),
    )
    n_short = shortlist * k

    def adc(key, cdf, qdf):
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "score_pq": []})
        C = np.vstack(cdf["codes"].values).astype(np.int64)  # n_c × m
        ids = cdf["n_id"].values
        outs = []
        for _, qrow in qdf.iterrows():
            qv = np.asarray(list(map(float, qrow["q_vec"])))
            qv = qv / max(np.linalg.norm(qv), 1e-12)
            # LUT[j, c] = q_subj · book[j][c]  (inner product on the
            # normalized sphere ≈ cosine)
            lut = np.stack([
                books[j] @ qv[j * dsub:(j + 1) * dsub] for j in range(mm)
            ])
            s = lut[np.arange(mm)[None, :], C].sum(axis=1)
            keep = ids != qrow["q_id"]
            s, kid = s[keep], ids[keep]
            top = np.argsort(-s, kind="stable")[:n_short]
            outs.append(pd.DataFrame({
                "q_id": np.full(len(top), qrow["q_id"], dtype="int64"),
                "n_id": kid[top],
                "score_pq": s[top],
            }))
        return pd.concat(outs) if outs else pd.DataFrame(
            {"q_id": [], "n_id": [], "score_pq": []}
        )

    cand = (
        codes.groupBy("cell")
        .cogroup(probes.groupBy("cell"))
        .applyInPandas(adc, "q_id long, n_id long, score_pq double")
    )
    # exact re-rank of the PQ shortlist: semi-join back to the
    # full-precision vectors (the only place they are read)
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    pairs = (
        cand.groupBy("q_id", "n_id").agg(F.max("score_pq").alias("score_pq"))
        .join(F.broadcast(q), "q_id")
        .join(c, "n_id")
    )
    return exact_rerank(pairs, k)


def prf_hybrid_topk(
    candidates: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    prf_depth: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical→semantic retrieval: rerank BM25 candidates by
    embedding cosine against a **pseudo-relevance-feedback centroid**
    (Rocchio/PRF, the classic query-expansion move): the query has no
    embedding of its own, so the mean vector of its ``prf_depth``
    top-BM25 documents stands in for it, and every candidate is
    rescored by cosine to that centroid — the cross-encoder-shaped
    second stage of a retrieval cascade, built from the two stages
    that already exist (text.bm25_topk + the exact_rerank contract).

    ``candidates``: (qid, doc_id, score, rank) — bm25_topk output.
    Output: qid, doc_id, bm25_score, bm25_rank, cos_prf, rank — final
    rank by (cos_prf desc, bm25_score desc, doc_id).

    Engine-exact arithmetic (the BM25 convention, order-independent so
    a SQL oracle can reproduce it bit-for-bit): components round to 6
    then sum as decimal(38,6) — centroid, dot product and norms are
    all exact decimal aggregations; only the final sqrt/divide/round
    are IEEE (identical in both engines).

    Scale shape: the candidate set is O(queries·k_cand) rows — every
    join below broadcasts it; the corpus-sized embeddings table is
    touched by ONE broadcast semi-join (no shuffle of the corpus), and
    the per-dimension explode is over candidates only (q·k_cand·dim
    rows). The offline BM25 index is the expensive artifact; this
    stage adds one embedding-fetch pass.
    """
    cand = candidates.select(
        "qid",
        F.col("doc_id"),
        F.col("score").alias("bm25_score"),
        F.col("rank").alias("bm25_rank"),
    )
    # one pass over the corpus embeddings, gated by the broadcast
    # candidate list; components rounded to 6 at the source so every
    # downstream aggregate is exact decimal arithmetic
    ce = (
        embeddings.join(
            F.broadcast(cand), embeddings[id_col] == cand["doc_id"]
        )
        .select(
            "qid", "doc_id", "bm25_score", "bm25_rank",
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .select(
            "qid", "doc_id", "bm25_score", "bm25_rank", "pos",
            F.round(F.col("x").cast("double"), 6).alias("v"),
        )
    )
    # ce feeds three consumers (centroid, query norm via centroid, and
    # candidate scoring) — persist the tiny q·k_cand·dim table once so
    # the BM25 candidate pipeline doesn't recompute per consumer;
    # pinned around the eager checkpoint below
    dec = "decimal(38,6)"
    cen = (
        ce.filter(F.col("bm25_rank") <= prf_depth)
        .groupBy("qid", "pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("q")
        )
    )
    qn = cen.groupBy("qid").agg(
        F.sum(F.round(F.col("q") * F.col("q"), 6).cast(dec))
        .cast("double").alias("nq")
    )
    sc = (
        ce.join(F.broadcast(cen), ["qid", "pos"])
        .groupBy("qid", "doc_id", "bm25_score", "bm25_rank")
        .agg(
            F.sum(F.round(F.col("v") * F.col("q"), 6).cast(dec))
            .cast("double").alias("dot"),
            F.sum(F.round(F.col("v") * F.col("v"), 6).cast(dec))
            .cast("double").alias("nc"),
        )
        .join(F.broadcast(qn), "qid")
        .select(
            "qid", "doc_id", "bm25_score", "bm25_rank",
            F.round(
                F.col("dot") / (F.sqrt("nc") * F.sqrt("nq")), 6
            ).alias("cos_prf"),
        )
    )
    w = W.partitionBy("qid").orderBy(
        F.desc("cos_prf"), F.desc("bm25_score"), F.asc("doc_id")
    )
    out = (
        sc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
    with pinned(ce):
        return out.localCheckpoint(eager=True)


def _kmeans_remean(ve: DataFrame, assign: DataFrame) -> list:
    """Shared Lloyd re-mean: exact decimal per-(cluster, dim) mean over
    the exploded component table, rounded to 6 — identical arithmetic
    for both assignment engines, collected as the bounded k·dim driver
    sync. A cluster that lost every member drops out (no row), which
    both engines treat the same way: it can never be assigned again."""
    dec = "decimal(38,6)"
    return (
        ve.join(assign.select("vid", "cid"), "vid")
        .groupBy("cid", "pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("q")
        )
        .collect()
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "gemm",
    _state: dict | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column, run for a
    FIXED ``iters`` iterations from a deterministic seed — the corpus
    clustering primitive under SemDeDup-style semantic dedup and
    cluster-balanced sampling. Like llm_pagerank, the fixed iteration
    count makes the whole iterative computation SQL-oracle-able as
    unrolled CTEs with bit-exact parity.

    Determinism/exactness contract (the repo's decimal convention):
    components round to 6 then all distances and centroid means are
    exact decimal aggregations; init centroids are the ``k`` vectors
    with smallest md5(id) (order-independent, insertion-order-free —
    the codebook-sampling convention), cluster ids 0..k-1 in that md5
    order; assignment ties break by cluster id.

    ONE Lloyd algorithm, TWO tested-equal assignment engines sharing
    the init and the decimal re-mean (``_kmeans_remean``):

    * ``impl="gemm"`` (default — the compute engine): per Arrow batch,
      the n×dim component matrix meets the broadcast k×dim centroid
      matrix in one vectorized numpy distance computation inside a
      pandas UDF. No n·dim·k intermediate rows exist anywhere — the
      k-way product lives only inside the batch kernel, so the per-
      iteration cluster cost is a corpus scan plus the k·dim re-mean
      shuffle. Each squared term is rounded to 6 exactly as the SQL
      engine rounds it, so the float64 sum sits within 1e-12 of the
      decimal sum — far below the 1e-6 output grid — and assignments
      are identical (property-tested against impl="sql" on the
      fixtures in tests/test_llm_ops.py).
    * ``impl="sql"`` (the oracle-parity twin): the exploded
      (id, pos, v) table joins the broadcast k·dim centroid table and
      map-combines to (id, cluster) exact-decimal distances — every
      step expressible as unrolled DuckDB CTEs, which is what the
      driver's correctness gate replays.

    Scale shape (the Spark MLlib shape either way): per iteration, ONE
    broadcast of the k·dim centroid table against the corpus, then the
    map-combined (cluster, pos) re-mean; the only driver sync per
    iteration is the k·dim centroid collect (bounded, like IVF's).
    The corpus-side table is pinned once across all iterations
    (:func:`~datawarehouse_spark.operators.pin.pinned`).
    """
    if impl not in ("gemm", "sql"):
        raise ValueError(f"impl must be 'gemm' or 'sql', got {impl!r}")
    spark = embeddings.sparkSession
    wide = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double"), 6)
        ).alias("varr"),
    )
    # exploded component view — pipelined off the persisted wide frame
    # (re-mean needs it every iteration; the sql engine also assigns
    # with it)
    ve = wide.select("vid", F.posexplode("varr").alias("pos", "v"))
    dec = "decimal(38,6)"
    with pinned(wide):
        # ONE TakeOrdered collect carries both the md5-order ids and
        # their k×dim vectors (formerly an id collect plus a second
        # full-scan isin-filter collect — r14, guide §1.2 job shape)
        init = (
            wide.orderBy(F.md5(F.col("vid").cast("string")), "vid")
            .limit(k)
            .collect()
        )
        # cluster id = rank in md5 order (the oracle reproduces this)
        cid_of = {r["vid"]: i for i, r in enumerate(init)}
        init_vecs = {
            r["vid"]: list(map(float, r["varr"])) for r in init
        }
        # (cids, C): live cluster ids + their centroid matrix rows
        cids = sorted(cid_of.values())
        C = np.array(
            [init_vecs[v] for v, c in sorted(cid_of.items(), key=lambda t: t[1])]
        )
        assign = None
        used_ids: list[int] = []
        used_c = C
        for _ in range(iters):
            # the centroids THIS iteration's assignment is computed
            # against (c_{i-1} in oracle terms) — what an IVF index
            # must probe with to reproduce the final assignment
            used_ids, used_c = list(cids), C.copy()
            if impl == "gemm":
                frozen_c, frozen_ids = C.copy(), list(cids)

                @F.pandas_udf("struct<cid:int, dist2:double>")
                def assign_udf(vs: pd.Series) -> pd.DataFrame:
                    X = np.vstack(vs.values)
                    # same arithmetic as the sql engine: each squared
                    # component rounded to 6, then summed
                    d2 = np.stack(
                        [
                            np.round((X - frozen_c[j]) ** 2, 6).sum(axis=1)
                            for j in range(len(frozen_ids))
                        ],
                        axis=1,
                    )
                    # snap the float64 sums onto the 1e-6 grid before
                    # argmin: a true decimal tie can differ by ~1e-13
                    # across clusters in float, which would let argmin
                    # pick a different cid than the sql engine's
                    # (dist2, cid) ascending order. On-grid, argmin's
                    # lowest-index rule IS asc(cid).
                    best = np.argmin(np.round(d2, 6), axis=1)
                    return pd.DataFrame(
                        {
                            "cid": np.array(frozen_ids, dtype="int32")[best],
                            "dist2": d2[np.arange(len(best)), best],
                        }
                    )

                assign = wide.select(
                    "vid", assign_udf(F.col("varr")).alias("a")
                ).select(
                    "vid",
                    F.col("a.cid").alias("cid"),
                    F.col("a.dist2").alias("dist2"),
                )
            else:
                cen = spark.createDataFrame(
                    [
                        (cid, pos, float(q))
                        for cid, row in zip(cids, C)
                        for pos, q in enumerate(row)
                    ],
                    "cid int, pos int, q double",
                )
                d2 = (
                    ve.join(F.broadcast(cen), "pos")
                    .groupBy("vid", "cid")
                    .agg(
                        # exact decimal sum, then compare as DOUBLE in
                        # both engines (decimal→double is not injective,
                        # so ordering decimals could tiebreak
                        # differently)
                        F.sum(
                            F.round(
                                (F.col("v") - F.col("q"))
                                * (F.col("v") - F.col("q")),
                                6,
                            ).cast(dec)
                        ).cast("double").alias("dist2")
                    )
                )
                w = W.partitionBy("vid").orderBy(
                    F.asc("dist2"), F.asc("cid")
                )
                assign = (
                    d2.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select("vid", "cid", "dist2")
                )
            # shared exact-decimal re-mean; bounded k·dim driver sync
            # pins the table so the next iteration's plan doesn't nest
            rows = _kmeans_remean(ve, assign)
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = float(r["q"])
            cids = sorted(by_cid)
            C = np.array(
                [
                    [by_cid[c][p] for p in range(len(by_cid[c]))]
                    for c in cids
                ]
            )
        if _state is not None:
            _state["cids"] = used_ids
            _state["C"] = used_c
        return (
            assign.select(
                F.col("vid").alias(id_col),
                F.col("cid").cast("bigint").alias("cluster"),
                F.round("dist2", 6).alias("dist2"),
            )
            .localCheckpoint(eager=True)
        )


def cluster_balanced_sample(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    per_cluster: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced diversity sampling (the SemDeDup / DiverseSelect
    corpus-selection shape): cluster the embedding space with
    :func:`kmeans_assign`, then take an equal ``per_cluster`` quota
    from every cluster in deterministic md5 order — the sample covers
    every mode of the distribution instead of over-drawing from the
    densest region the way uniform sampling does.

    Fully oracle-checkable: the clustering is the fixed-iteration
    unrolled-CTE k-means and the quota pick is a ROW_NUMBER window in
    md5 order (never rand()).

    Scale shape: one window partitioned by cluster id — the same
    shuffle key the assignment already produced. The md5 order means
    a 100 TB deployment can replace the per-cluster sort with a
    broadcast md5-threshold refinement (sample the cluster, estimate
    the quota quantile, filter) without changing WHICH rows win; the
    window form IS the exact semantics that refinement approximates.
    """
    from pyspark.sql import Window as W

    assign = kmeans_assign(embeddings, k=k, iters=iters,
                           id_col=id_col, vec_col=vec_col)
    w = W.partitionBy("cluster").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        assign.withColumn("pick", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick") <= per_cluster)
    )


def sq8_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 scalar quantization audit — the simpler sibling of product
    quantization (:func:`pq_train_codebooks`): per-dimension min/max
    over the corpus maps every float32 component to an 8-bit code
    (FAISS's SQ8 / the standard 4× memory cut before PQ is worth its
    codebooks), and the REALIZED reconstruction error is reported per
    vector — the go/no-go number for swapping an index to int8.

    Oracle-exactness trick: everything happens in the integer micro
    domain. Components are staged as xi = round(round(x, 6) · 1e6)
    BIGINTs, so min/max, code = ((xi−mn)·255) div (mx−mn), recon =
    mn + (code·(mx−mn)) div 255 and the absolute errors are pure
    integer arithmetic both engines replay bit-for-bit — no float
    division, no rounding-mode divergence. Errors are therefore in
    1e-6 units of the original scale.

    Scale shape: one posexplode pass map-combines to the dim-sized
    (pos, mn, mx) table (bounded by dim, not corpus), which broadcasts
    back for coding; the only corpus-keyed shuffle is the per-vector
    error rollup on the id.
    """
    comp = embeddings.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).select(
        "vid", "pos",
        F.round(F.round(F.col("x").cast("double"), 6) * 1e6, 0)
        .cast("bigint").alias("xi"),
    )
    rng = comp.groupBy("pos").agg(
        F.min("xi").alias("mn"), F.max("xi").alias("mx")
    )
    coded = (
        comp.join(F.broadcast(rng), "pos")
        .withColumn(
            "code",
            F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint"))
            .otherwise(F.expr("((xi - mn) * 255) div (mx - mn)")),
        )
        .withColumn(
            "recon",
            F.when(F.col("mx") == F.col("mn"), F.col("mn"))
            .otherwise(F.expr("mn + (code * (mx - mn)) div 255")),
        )
    )
    return (
        coded.groupBy("vid")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(F.abs(F.col("xi") - F.col("recon")))
            .alias("total_abs_err"),
            F.max(F.abs(F.col("xi") - F.col("recon")))
            .alias("max_abs_err"),
            (F.sum("code") / F.count(F.lit(1))).alias("avg_code"),
        )
        .select(
            F.col("vid").alias(id_col),
            F.col("n_dims").cast("bigint").alias("n_dims"),
            F.col("total_abs_err").cast("bigint").alias("total_abs_err"),
            F.col("max_abs_err").cast("bigint").alias("max_abs_err"),
            "avg_code",
        )
    )


# ---------------------------------------------------------------------------
# HNSW-shaped layered graph ANN (Malkov & Yashunin 2016) — the one
# industry-default FAISS index family not yet represented (LSH / IVF /
# IVF-PQ are all driver-gated). True HNSW is a sequential insert
# algorithm; this is the Spark-native re-expression: a deterministic
# geometric LEVEL draw, per-layer M-nearest adjacency built from
# bounded candidate sets, and a layered BEAM search that descends the
# hierarchy greedy-first exactly like HNSW's search phase. Both halves
# are driver-gated (llm_hnsw_graph r11, llm_hnsw_search r12): with the
# beam width, step count, entry point and tie order pinned, the search
# is a fixed (max_level+1)·steps-stage program, so the DuckDB oracle
# replays it exactly — the same unroll trick as LPA/PageRank/BPE.

def _topm_rows(S: "np.ndarray", ids: "np.ndarray", k: int) -> list:
    """Per-row top-``k`` column indices of score matrix ``S``, ordered
    by (value DESC, ids ASC) — the HNSW edge-selection kernel. A full
    per-row lexsort is O(rows·cols·log cols) and was the measured
    bottleneck of the dense build at 20k vectors (the r11 sf1-slice
    rehearsal); this does an argpartition to a k+64 head and lexsorts
    only the head. Exactness guard: if the row's boundary VALUE also
    occurs outside the head (a tie spill — then an id outside the head
    could outrank an id inside), that row falls back to the full
    lexsort, so the selection is bit-identical to the naive form on
    every NaN-free input (the ==-count guard cannot see NaN, since
    NaN != NaN — callers pin NaN scores to -inf first, which also
    matches how the naive lexsort ordered them: worst)."""
    n, mm = S.shape
    if k >= mm or mm <= k + 64:
        return [np.lexsort((ids, -S[i]))[:k] for i in range(n)]
    K = k + 64
    part = np.argpartition(-S, K - 1, axis=1)[:, :K]
    rows = np.arange(n)[:, None]
    Ssub = S[rows, part]
    out = []
    for i in range(n):
        o = np.lexsort((ids[part[i]], -Ssub[i]))[:k]
        kth = Ssub[i][o[-1]]
        if (Ssub[i] == kth).sum() != (S[i] == kth).sum():
            out.append(np.lexsort((ids, -S[i]))[:k])
        else:
            out.append(part[i][o])
    return out


# Hard ceiling on hnsw_build's dense_layer_cap: the dense branch
# collects (id, vector) for the whole layer to the driver, so the cap
# IS the driver-memory bound — 32768 × (8B id + ~128×8B vector) ≈
# 34 MB, the largest model-sized collect the repo allows
# (tests/test_collect_lint.py cites this constant). A caller asking
# for more gets a loud failure, not a silent OOM risk.
MAX_DENSE_LAYER_CAP = 32768


def hnsw_build(
    corpus: DataFrame,
    m: int = 6,
    max_level: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    dense_layer_cap: int = 4096,
    level_src: Column | None = None,
    require_dense: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build the layered neighbor graph. Returns ``(levels, adj)``:
    ``levels`` = (id, lvl) with lvl the count of trailing zero bits of
    xxhash64(id) capped at ``max_level`` — the deterministic stand-in
    for HNSW's geometric(1/2) level draw, so layer l holds ~n/2^l
    nodes and the whole build replays bit-identically; ``adj`` =
    (lvl, src, dst) directed edges, each node's ``m`` highest-cosine
    neighbors among its layer peers, ties by dst id.

    ``level_src`` overrides the integer whose trailing zeros the level
    draw counts (default ``xxhash64(id)``). Passing the id column
    itself keeps the geometric(1/2) layer shape for sequential ids
    while making the draw plain modular arithmetic — the form the
    cross-engine SQL oracle can replay verbatim (DuckDB has no
    xxhash64).

    Scale shape: candidate pairs per layer come from the hyperplane
    LSH buckets (same-bucket join — never an all-pairs product) UNION
    a dense within-layer join only when the layer's population is
    under ``dense_layer_cap`` (upper layers shrink geometrically, so
    the dense join only ever sees model-sized layers; layer 0 of a
    100 TB corpus stays LSH-bounded). ``n_planes`` is a FLOOR: each
    over-cap layer sizes its own plane count so expected bucket
    occupancy stays ≤ dense_layer_cap/8 — with planes fixed, bucket
    population grows with the layer and candidate volume goes
    quadratic (the r11 8× sweep measured exactly that: 15.5× at 8×
    data before auto-sizing, at-linear after); with occupancy pinned,
    candidates are n·occupancy — linear. Edge selection is one window
    over candidate edges keyed by (lvl, src).

    ``require_dense=True`` turns a would-be LSH-branch layer into a
    loud ValueError instead — for callers (the driver gate) whose
    cross-engine oracle replays the dense build and must never
    silently diverge when the corpus outgrows ``dense_layer_cap``."""
    if dense_layer_cap > MAX_DENSE_LAYER_CAP:
        raise ValueError(
            f"hnsw_build: dense_layer_cap={dense_layer_cap} exceeds "
            f"MAX_DENSE_LAYER_CAP={MAX_DENSE_LAYER_CAP} — the dense "
            "branch collects the layer to the driver, and this "
            "ceiling is the documented bound of that collect"
        )
    id_dtype = dict(corpus.dtypes).get(id_col)
    if id_dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"hnsw_build: id column {id_col!r} has type {id_dtype!r}; "
            "the GEMM kernels and the (src long, dst long) adjacency "
            "schema require an integral id — cast or map string ids "
            "to integers first (e.g. a dense rank or xxhash64)"
        )
    h = (F.xxhash64(F.col(id_col).cast("string"))
         if level_src is None else level_src)
    lvl = F.lit(max_level)
    for l in range(max_level - 1, -1, -1):
        # trailing-zero count: h % 2^(l+1) == 2^l  ⇒  exactly l zeros
        lvl = F.when(
            F.pmod(h, F.lit(2 ** (l + 1))) == F.lit(2**l), F.lit(l)
        ).otherwise(lvl)
    # lvl is a projection of the id — no join needed; ONE lazy
    # checkpoint materializes (id, vec, lvl) under the histogram job
    # below, and every per-layer filter + score then reruns over the
    # cached blocks instead of re-scanning the source per layer
    base = corpus.select(
        F.col(id_col), F.col(vec_col), lvl.cast("int").alias("lvl")
    ).localCheckpoint(eager=False)
    levels = base.select(F.col(id_col), "lvl")
    # ONE histogram job replaces the former per-layer count() chain
    # (r14, guide §1.2) and doubles as the checkpoint materializer:
    # layer l's population is the suffix-sum of the per-level counts —
    # identical to the old base.filter(lvl >= l).count() scalar
    hist = {
        int(r["lvl"]): int(r["n"])
        for r in base.groupBy("lvl").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    pops = [
        sum(c for lv, c in hist.items() if lv >= l)
        for l in range(max_level + 1)
    ]
    dense_rows: list | None = None
    layer_adjs = []
    for l in range(max_level + 1):
        members = base.filter(F.col("lvl") >= l)
        n_l = pops[l]
        if n_l < 2:
            continue
        # dense exact top-m only for model-sized layers (the geometric
        # level draw shrinks layers 2x per level, so only the deep
        # layers of a big corpus ever take the LSH branch)
        if n_l > dense_layer_cap and require_dense:
            raise ValueError(
                f"hnsw_build: layer {l} holds {n_l} vectors > "
                f"dense_layer_cap={dense_layer_cap} and "
                "require_dense=True — the caller's oracle replays the "
                "dense build, so switching to the LSH branch here "
                "would silently diverge; raise the cap (≤ "
                f"{MAX_DENSE_LAYER_CAP}) or re-verify on a sub-slice"
            )
        if n_l <= dense_layer_cap:
            # FAISS-style model-sized structure: the capped layer's
            # (id, vector) matrix collects to the driver (bounded by
            # dense_layer_cap BY CONSTRUCTION -- same class as the
            # centroid/codebook collects) and rides each task's
            # closure; every member partition then scores its rows
            # against the whole layer with ONE BLAS GEMM and emits its
            # own top-m directly -- no pair-set shuffle, no window.
            # np.round(..., 6) before ranking keeps the rank ties and
            # the selected edges identical to the SQL/window form (the
            # cosine_pairs cross-engine convention). Residual risk,
            # documented: the BLAS GEMM accumulates in a different
            # order than DuckDB's sequential list_cosine_similarity,
            # and np.round is half-to-even while DuckDB's round() is
            # half-away-from-zero — a cosine landing within ~1 ulp of
            # a 0.5e-6 boundary could round to a different 6th decimal
            # and flip an edge-selection tie. Never observed across
            # the sf0.01/0.1/1 sweeps (the fixture's float32-sourced
            # embeddings don't produce such boundary values); if it
            # ever fires, recompute the boundary rows with the
            # sequential dot_cols convention.
            # collect ONCE at the first (hence largest) dense layer —
            # still bounded by dense_layer_cap — and slice the higher
            # layers driver-side: lvl >= l is monotone, so each layer
            # is a strict subset of the first dense one. One collect
            # job instead of one per layer (r14, guide §1.2); the
            # sliced (id, vector) sets are identical to what the old
            # per-layer collect returned.
            if dense_rows is None:
                dense_rows = base.filter(F.col("lvl") >= l).select(
                    id_col, vec_col, "lvl"
                ).collect()
            rows = [r for r in dense_rows if r["lvl"] >= l]
            ids = np.array([r[0] for r in rows], dtype=np.int64)
            M = np.array([list(r[1]) for r in rows], dtype=np.float64)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            k_l = min(m, n_l - 1)

            def topm(it, ids=ids, M=M, norms=norms, k_l=k_l):
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    Q_all = np.array([list(v) for v in pdf[vec_col]],
                                     dtype=np.float64)
                    q_all = pdf[id_col].to_numpy(dtype=np.int64)
                    # chunk the GEMM: a full-partition score matrix at
                    # 20k members is GBs; 1024-row slabs bound memory
                    for s0 in range(0, len(q_all), 1024):
                        Q = Q_all[s0:s0 + 1024]
                        q_ids = q_all[s0:s0 + 1024]
                        nq = np.linalg.norm(Q, axis=1, keepdims=True)
                        S = np.round((Q @ M.T) / (nq * norms.T), 6)
                        # zero-norm vectors yield NaN cosine rows; pin
                        # to -inf ("worst") so the argpartition kernel
                        # stays exact (NaN defeats its ==-count guard)
                        S[np.isnan(S)] = -np.inf
                        S[q_ids[:, None] == ids[None, :]] = -np.inf
                        sel = _topm_rows(S, ids, k_l)
                        src = np.repeat(q_ids, [len(x) for x in sel])
                        dst = ids[np.concatenate(sel)]
                        yield pd.DataFrame({"src": src, "dst": dst})

            layer_adjs.append(
                members.mapInPandas(topm, schema="src long, dst long")
                .select(F.lit(l).alias("lvl"), "src", "dst")
            )
            continue
        # LSH branch: each vector lives in exactly ONE sign bucket, so
        # a node's whole candidate set IS its bucket — per-bucket GEMM
        # top-m via applyInPandas (one shuffle of n rows keyed by
        # bucket; no pair-set materialization, no window). Expected
        # occupancy is pinned to ~dense_layer_cap/8: with the plane
        # count fixed, occupancy grows with n_l and per-bucket work
        # goes quadratic; sized per layer it stays linear (the r11 8x
        # sweep measured 15.5x before, at-linear after).
        # occupancy floor 8·m keeps every bucket comfortably above the
        # degree bound even when dense_layer_cap is forced low (tests
        # pin it to 0 to exercise this branch on a small corpus)
        target = max(8.0 * m, dense_layer_cap / 8)
        planes_l = max(
            n_planes,
            math.ceil(math.log2(max(2.0, n_l / target))),
        )
        if dim is None:
            # inferred lazily: only the LSH branch consumes dim, so a
            # fully-dense build (the gated/fixture path) never pays
            # this driver head() job
            first = corpus.select(vec_col).head()
            dim = len(first[0]) if first is not None else 1
        buckets = hyperplane_lsh_buckets(
            members, planes_l, id_col, vec_col, dim
        )
        mem_b = members.select(id_col, vec_col).join(buckets, id_col)

        # NOTE: exactly ONE positional parameter — applyInPandas
        # inspects the arity and a second parameter (even a defaulted
        # one) switches it to (key, pdf) dispatch, silently feeding
        # the key tuple as pdf; m is a build-constant, closure is safe
        def topm_bucket(pdf):
            if len(pdf) < 2:
                return pd.DataFrame({"src": [], "dst": []})
            ids = pdf["_hnsw_id"].to_numpy(dtype=np.int64)
            M = np.array([list(v) for v in pdf["_hnsw_vec"]],
                         dtype=np.float64)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            S = np.round((M @ M.T) / (norms * norms.T), 6)
            S[np.isnan(S)] = -np.inf
            np.fill_diagonal(S, -np.inf)
            k_b = min(m, len(ids) - 1)
            sel = _topm_rows(S, ids, k_b)
            src = np.repeat(ids, [len(x) for x in sel])
            dst = ids[np.concatenate(sel)]
            return pd.DataFrame({"src": src, "dst": dst})

        layer_adjs.append(
            mem_b.select(
                F.col(id_col).alias("_hnsw_id"),
                F.col(vec_col).alias("_hnsw_vec"),
                "bucket",
            )
            .groupBy("bucket")
            .applyInPandas(topm_bucket, schema="src long, dst long")
            .select(F.lit(l).alias("lvl"), "src", "dst")
        )
    if not layer_adjs:
        # 0- or 1-vector corpus: a valid (empty) graph, not a crash
        empty = levels.sparkSession.createDataFrame(
            [], "lvl int, src long, dst long")
        return levels, empty
    adj = layer_adjs[0]
    for a in layer_adjs[1:]:
        adj = adj.unionByName(a)
    # lazy: the caller's first action materializes the adjacency once
    # (beam search re-reads it per level; a one-shot caller pays one
    # execution either way) — drops the standalone eager job (r14)
    return levels, adj.localCheckpoint(eager=False)


# Hard ceiling on hnsw_topk's query batch: the search broadcasts the
# FULL query table (id + vector) to every executor and cross-joins it
# with the entry point — correct and fast for serving-sized batches,
# a driver/executor memory wall for corpus-sized ones. 65536 ×
# (8B id + ~128×8B vector) ≈ 68 MB broadcast, the same order as
# MAX_DENSE_LAYER_CAP's documented collect bound. A bigger query set
# is a batch-ANN job, not a beam search — use ivf_topk / lsh_ann_topk
# (shuffle-partitioned, no broadcast) or chunk the queries. Enforced
# as a loud ValueError (the r12 lesson: written bounds beat
# aspirational comments); cited in SCALE.md's ANN section.
MAX_BEAM_QUERIES = 65536


def hnsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 6,
    ef: int = 8,
    steps: int = 2,
    max_level: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    level_src: Column | None = None,
    dense_layer_cap: int = 4096,
    require_dense: bool = False,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Layered beam search over the :func:`hnsw_build` graph — the
    HNSW search phase: start every query at the deterministic entry
    point (highest level, smallest id), and at each level expand the
    beam ``steps`` times (frontier ∪ frontier's out-neighbors, scored
    by exact cosine, keep the best ``ef``) before descending; the
    bottom-layer beam re-ranks to the final top-k through the shared
    :func:`exact_rerank` contract (so recall is measured against the
    same output shape as every other ANN variant).

    Scale shape: the graph is (max_level+1)·n·m edge rows, shuffled
    once at build; each beam step is one broadcast join of the
    |queries|·ef frontier against the edge table plus a broadcast
    embedding lookup — (max_level+1)·steps bounded joins total, each
    localCheckpoint'ed so lineage stays flat. No stage ever touches
    more than frontier·m candidate rows per query. The query table is
    BROADCAST (that is what makes each beam step one bounded join), so
    the batch is capped at ``MAX_BEAM_QUERIES`` — oversized query sets
    fail loudly with the batch-ANN recipe instead of OOMing an
    executor."""
    # The cap guard materializes limit(cap+1) ONCE (bounded — at most
    # cap+1 rows hit the checkpoint) and the search reads the same
    # materialization: the upstream query plan executes exactly once
    # total. (ADVICE r13: the former limit(cap+1).count() probe
    # re-executed an expensive un-cached upstream prefix once before
    # the search.) When the guard passes, limit(cap+1) returned EVERY
    # query row, so substituting the checkpointed frame is lossless.
    bounded = queries.limit(MAX_BEAM_QUERIES + 1).localCheckpoint(
        eager=False
    )
    # the guard count doubles as the checkpoint materializer (r14):
    # one job probes the bound AND persists the query batch
    if bounded.count() > MAX_BEAM_QUERIES:
        raise ValueError(
            f"hnsw_topk: query set exceeds MAX_BEAM_QUERIES="
            f"{MAX_BEAM_QUERIES} — beam search broadcasts the query "
            "table to every executor; for corpus-sized query sets use "
            "ivf_topk / lsh_ann_topk (shuffle-partitioned) or chunk "
            "the queries"
        )
    queries = bounded
    if graph is not None:
        # prebuilt (levels, adj) from an earlier hnsw_build with the
        # SAME (m, max_level, level_src, cap) — lets a caller that
        # already materialized the graph (suite fusion) skip the
        # second identical build; the search below is unchanged
        levels, adj = graph
    else:
        levels, adj = hnsw_build(
            corpus, m=m, max_level=max_level, id_col=id_col,
            vec_col=vec_col, level_src=level_src,
            dense_layer_cap=dense_layer_cap, require_dense=require_dense,
        )
    entry = (
        levels.orderBy(F.desc("lvl"), F.asc(id_col)).limit(1)
        .select(F.col(id_col).alias("n_id"))
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec")
    )
    frontier = q.select("q_id").crossJoin(F.broadcast(entry))

    def beam(cand: DataFrame, width: int) -> DataFrame:
        scored = (
            cand.join(c, "n_id")
            .join(F.broadcast(q), "q_id")
            .select(
                "q_id",
                "n_id",
                F.round(
                    dot_cols("q_vec", "c_vec")
                    / (norm_col("q_vec") * norm_col("c_vec")),
                    6,
                ).alias("cos"),
            )
        )
        w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
        return (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= width)
            .select("q_id", "n_id")
        )

    step_no = 0
    total_steps = (max_level + 1) * steps
    for l in range(max_level, -1, -1):
        edges = adj.filter(F.col("lvl") == l).select(
            F.col("src").alias("n_id"), F.col("dst")
        )
        for _ in range(steps):
            grown = frontier.unionByName(
                frontier.join(edges, "n_id")
                .select("q_id", F.col("dst").alias("n_id"))
            ).distinct()
            frontier = beam(grown, ef)
            # checkpoint every OTHER beam step (and the last) instead
            # of every step (r14, guide §1.2 job shape): one lazy step
            # doubles the frontier subtree once — bounded — while
            # halving the eager checkpoint jobs that dominate the
            # fixture-scale cost of the search. (r15 probe, reverted:
            # making these cuts lazy so the whole beam program runs in
            # one action measured 4.9 -> 9.0 s / stages 58 -> 86 — the
            # eager cuts are load-bearing here because each one keeps
            # the next step's plan a flat LogicalRDD scan that AQE
            # plans with the reused broadcast, where the fused 8-step
            # plan re-exchanges every window stage.)
            step_no += 1
            if step_no % 2 == 0 or step_no == total_steps:
                frontier = frontier.localCheckpoint(eager=True)

    pairs = (
        frontier.join(c, "n_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            F.col("n_id"),
            "q_vec",
            "c_vec",
        )
        .filter(F.col("q_id") != F.col("n_id"))
    )
    return exact_rerank(pairs, k)
