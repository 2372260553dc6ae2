"""Graph operators over similarity/link structures.

The dedup pipeline already resolves connected components
(operators/dedup.py::dedup_clusters); this module adds iterative
numeric graph algorithms. PageRank over the near-dup candidate graph
ranks documents by how centrally they sit in a duplication cluster —
the canonical "pick the authoritative copy" signal (keep the hub,
drop the mirrors), and the standard demonstration that an iterative
fixed-iteration algorithm can be held to EXACT cross-engine parity:
PageRank uses no transcendental functions, so with per-iteration
contributions cast to decimal before the sum (reduction-order
independence) every intermediate double is bit-identical between
Spark and the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_spark.operators.pin import pinned

#: damping factor and its complement — computed ONCE in Python and
#: injected verbatim into both engines so the doubles agree bit-for-bit
#: (writing `1 - 0.85` in one engine and `0.15` in the other yields two
#: DIFFERENT doubles).
DAMPING = 0.85
BASE = 1.0 - DAMPING


def pagerank(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b",
             n_iters: int = 10) -> DataFrame:
    """Fixed-iteration PageRank on the undirected pair graph.

    Nodes are ids appearing in at least one pair (an isolated document
    has no duplication signal and is excluded by construction — this
    also guarantees out-degree ≥ 1, so there is no dangling-mass
    term). r0 = 1/N; r_{i+1}(v) = (1-d)/N + d·Σ_{u→v} r_i(u)/deg(u).

    Exactness: contributions r/deg are IEEE divisions (deterministic),
    cast to DECIMAL(38,15) before the per-node sum so reduction order
    cannot move the total, then one multiply+add per node — no libm
    anywhere, so the emitted doubles are bit-identical across engines
    with NO rounding step.

    Scale shape (r14 rewrite, guide §2.4/§3): the degree is folded
    into the persisted edge table ONCE (``ew = edges ⋈ deg``), so each
    iteration is a single join of ranks against ``ew`` on the source
    key plus a map-combined per-destination sum — one join and one
    aggregation exchange per round instead of the former three joins
    (ranks⋈deg, ⋈edges, nodes⟕sums). The trailing nodes-left-join was
    provably vacuous: the graph is symmetrized, so every node with an
    out-edge also has an in-edge and receives at least one
    contribution — the per-destination sums cover exactly the node
    set and the COALESCE(s, 0) never fired; dropping it changes no
    value (r_{i+1} arithmetic is applied to the identical sums).
    O(E) per iteration, fixed 10 rounds. Lineage is cut with a LAZY
    localCheckpoint every third iteration (the standard Spark
    iterative-algorithm hygiene; without it the plan doubles per
    round) — lazy since r15, so the cuts materialize inside the final
    eager checkpoint's single action instead of three driver-synced
    jobs. The graph-size scalar N is the one number the driver must
    know (it parameterizes every iteration's literals), hence a
    single count() of the node set — vocab-sized, not corpus-sized.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"),
                            F.col(id_a).alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")) \
        .withColumnRenamed("src", "node")
    with pinned(edges), pinned(deg):
        n_g = deg.count()
        # degree travels WITH the edge: r/deg needs no per-iteration
        # deg join, and the division is the same IEEE op on the same
        # inputs, so every contribution is bit-identical to the
        # three-join form's.
        # (r15 probe, reverted: pre-partitioning ew on src via
        # repartition+persist to make every iteration join
        # exchange-free pinned a 32-partition layout that AQE could no
        # longer coalesce — tasks 914 → 2082, 5.0 → 6.3 s at sf0.1.
        # The checkpointed form lets AQE size each iteration's
        # exchanges to the data, which is also the 100 TB-correct
        # default; the partitioned-edge-cache idea only wins when the
        # edge shuffle dominates the iteration, which AQE's runtime
        # broadcast of the rank side already avoids here.)
        ew = (
            edges.join(
                deg.select(F.col("node").alias("src"), "deg"), "src"
            )
            .select("src", "dst", "deg")
            .localCheckpoint(eager=True)
        )
        ranks = deg.select("node", F.lit(1.0 / n_g).alias("r"))
        for i in range(n_iters):
            contrib = (
                ranks.join(ew, F.col("node") == F.col("src"))
                .select(
                    F.col("dst").alias("node"),
                    (F.col("r") / F.col("deg"))
                    .cast("decimal(38,15)").alias("c"),
                )
            )
            ranks = contrib.groupBy("node").agg(
                F.sum("c").alias("s")
            ).select(
                "node",
                (
                    F.lit(BASE / n_g)
                    + F.lit(DAMPING) * F.col("s").cast("double")
                ).alias("r"),
            )
            if i % 3 == 2:
                # LAZY lineage cut (r15, guide §1.2): the plan is
                # truncated at build time either way; materialization
                # rides the final eager checkpoint's single action
                # instead of paying a driver-synced job per cut
                ranks = ranks.localCheckpoint(eager=False)
        out = ranks.select(F.col("node"), F.col("r").alias("pr"))
        return out.localCheckpoint(eager=True)


def pagerank_oracle_sql(pairs_cte: str, n_iters: int = 10) -> str:
    """Unrolled-iteration DuckDB oracle for :func:`pagerank`.

    ``pairs_cte`` must be the text of CTE definitions ending in a
    relation ``pairs(doc_a, doc_b)``. Ten chained CTEs (not a
    recursive CTE: standard SQL forbids aggregation in the recursive
    term) replay the identical arithmetic: same decimal casts, same
    injected double literals.
    """
    blocks = [
        pairs_cte,
        # MATERIALIZED is load-bearing (same note as kcore_oracle_sql):
        # DuckDB inlines plain CTEs, and with ten chained r{i} levels
        # each referencing deg/edges/g, inlining re-evaluates the
        # expensive pairs chain a multiplicative number of times — at
        # the sf1 slice this spilled >79 GB of temp and died (r12
        # sweep); materialized, each relation computes once
        """edges AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        )""",
        """deg AS MATERIALIZED (
          SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1
        )""",
        "g AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg)",
        # CAST(... AS DOUBLE) everywhere: DuckDB types bare numeric
        # literals as DECIMAL, and decimal division would diverge from
        # Spark's IEEE double arithmetic
        """r0 AS MATERIALIZED (
          SELECT node, CAST(1.0 AS DOUBLE) / g.n AS r
          FROM deg CROSS JOIN g
        )""",
    ]
    for i in range(1, n_iters + 1):
        blocks.append(f"""r{i} AS MATERIALIZED (
          SELECT d.node,
                 (CAST({BASE!r} AS DOUBLE) / g.n)
                   + CAST({DAMPING!r} AS DOUBLE)
                     * CAST(COALESCE(c.s, 0) AS DOUBLE) AS r
          FROM deg d CROSS JOIN g
          LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(CAST(p.r / dg.deg AS DECIMAL(38,15))) AS s
            FROM r{i - 1} p
            JOIN deg dg ON dg.node = p.node
            JOIN edges e ON e.src = p.node
            GROUP BY 1
          ) c ON c.node = d.node
        )""")
    body = ",\n    ".join(blocks)
    return f"""
    WITH RECURSIVE {body}
    SELECT node, r AS pr FROM r{n_iters}
    """


def hierarchy_stats(nodes: DataFrame, key: str = "k", parent: str = "p",
                    value: str = "val",
                    max_depth: int | None = None) -> DataFrame:
    """Recursive hierarchy traversal (the ``WITH RECURSIVE`` query
    class Spark SQL lacks) as a path-doubling transitive closure.

    ``nodes`` is a forest: one row per node with a ``parent`` key that
    is NULL on roots. Returns one row per node with its ``depth``
    (root = 0), ``root_key``, proper-descendant count ``n_desc`` and
    inclusive ``subtree_bal`` (self + all descendants, the BOM/org-
    chart rollup), i.e. everything a recursive CTE would compute in a
    warehouse hierarchy query.

    Algorithm — repeated squaring, not per-level iteration: the
    ancestor-pair set P starts as the parent edges (distance 1) and
    each round unions P with P⋈P (pairs of distance ≤ 2^i join pairs
    of distance ≤ 2^i → ≤ 2^{i+1}), so a depth-d hierarchy closes in
    ⌈log2 d⌉ shuffle rounds instead of d chained joins — the property
    that makes the operator survive deep chains at scale (a 10^6-deep
    chain is 20 rounds). With ``max_depth`` given the loop runs the
    fixed ⌈log2(max_depth)⌉ rounds with NO per-round convergence
    scalar (the PageRank fixed-iteration shape — halves the job count
    on shallow hierarchies), then VERIFIES the bound with one
    anti-join probe and raises ValueError if the closure would still
    grow; with ``max_depth=None`` convergence is a count() fixpoint
    (one driver-side scalar per round). Every round is eagerly
    localCheckpoint-ed so the lineage stays flat. The materialized
    closure is O(N·depth) rows of two BIGINTs — the standard
    space/time trade for bounded-depth warehouse hierarchies; all
    downstream stats are map-combined aggregations over it.

    Exactness: depth / root_key / n_desc are integers; subtree_bal is
    a sum of 2-decimal money rounded at 2 (the repo's exact-decimal
    convention — the true total has 2 decimals, so float reduction
    order cannot move the rounded value).
    """
    base = nodes.select(
        F.col(key).alias("k"), F.col(parent).alias("p"),
        F.col(value).alias("val"),
    ).localCheckpoint(eager=True)
    closure = base.where(F.col("p").isNotNull()).select(
        F.col("k").alias("dk"), F.col("p").alias("ak")
    ).localCheckpoint(eager=True)

    def _double(c: DataFrame) -> DataFrame:
        return (
            c.alias("x")
            .join(c.alias("y"), F.col("x.ak") == F.col("y.dk"))
            .select(F.col("x.dk").alias("dk"), F.col("y.ak").alias("ak"))
        )

    if max_depth is not None:
        rounds = max(1, (max(1, max_depth - 1)).bit_length())
        for _ in range(rounds):
            closure = (
                closure.union(_double(closure)).distinct()
                .localCheckpoint(eager=True)
            )
        grew = (
            _double(closure)
            .join(closure, ["dk", "ak"], "left_anti")
            .limit(1).count()
        )
        if grew:
            raise ValueError(
                f"hierarchy deeper than max_depth={max_depth}: the "
                "closure still grows after the bound's rounds"
            )
    else:
        n_prev, n_cur = -1, closure.count()
        while n_cur != n_prev:
            # lazy checkpoint + fixpoint count share one job (r14)
            closure = (
                closure.union(_double(closure)).distinct()
                .localCheckpoint(eager=False)
            )
            n_prev, n_cur = n_cur, closure.count()
    depth = closure.groupBy("dk").agg(F.count(F.lit(1)).alias("depth"))
    roots = base.where(F.col("p").isNull()).select(F.col("k").alias("rk"))
    root_of = closure.join(
        roots, F.col("ak") == F.col("rk")
    ).select("dk", F.col("ak").alias("root_key"))
    n_desc = closure.groupBy("ak").agg(F.count(F.lit(1)).alias("n_desc"))
    desc_bal = (
        closure.join(
            base.select(F.col("k").alias("dk"), F.col("val").alias("dval")),
            "dk",
        )
        .groupBy("ak").agg(F.sum("dval").alias("desc_bal"))
    )
    return (
        base
        .join(depth, base["k"] == depth["dk"], "left").drop("dk")
        .join(root_of, base["k"] == root_of["dk"], "left").drop("dk")
        .join(n_desc, base["k"] == n_desc["ak"], "left").drop("ak")
        .join(desc_bal, base["k"] == desc_bal["ak"], "left").drop("ak")
        .select(
            F.col("k").alias("node_key"),
            F.coalesce(F.col("depth"), F.lit(0)).cast("bigint")
            .alias("depth"),
            F.coalesce(F.col("root_key"), F.col("k")).cast("bigint")
            .alias("root_key"),
            F.coalesce(F.col("n_desc"), F.lit(0)).cast("bigint")
            .alias("n_desc"),
            F.round(
                F.col("val") + F.coalesce(F.col("desc_bal"), F.lit(0.0)), 2
            ).alias("subtree_bal"),
        )
    )


def hierarchy_oracle_sql(nodes_cte: str) -> str:
    """DuckDB oracle for :func:`hierarchy_stats` — a genuine
    ``WITH RECURSIVE`` ancestor closure (the SQL form the Spark
    operator re-expresses), followed by the same four rollups.
    ``nodes_cte`` must be a CTE body ending in ``nodes(k, p, val)``
    with ``p`` NULL on roots. Parent keys are unique, so the
    recursive UNION ALL enumerates each (node, ancestor) pair exactly
    once — no cycle or duplicate handling is needed."""
    return f"""
    WITH RECURSIVE {nodes_cte},
    closure AS (
      SELECT k AS dk, p AS ak FROM nodes WHERE p IS NOT NULL
      UNION ALL
      SELECT c.dk, n.p AS ak
      FROM closure c JOIN nodes n ON n.k = c.ak
      WHERE n.p IS NOT NULL
    ),
    depth AS (SELECT dk, COUNT(*) AS depth FROM closure GROUP BY 1),
    root_of AS (
      SELECT c.dk, c.ak AS root_key
      FROM closure c JOIN nodes r ON r.k = c.ak AND r.p IS NULL
    ),
    n_desc AS (SELECT ak, COUNT(*) AS n_desc FROM closure GROUP BY 1),
    desc_bal AS (
      SELECT c.ak, SUM(n.val) AS desc_bal
      FROM closure c JOIN nodes n ON n.k = c.dk GROUP BY 1
    )
    SELECT nodes.k AS node_key,
           CAST(COALESCE(depth.depth, 0) AS BIGINT) AS depth,
           CAST(COALESCE(root_of.root_key, nodes.k) AS BIGINT) AS root_key,
           CAST(COALESCE(n_desc.n_desc, 0) AS BIGINT) AS n_desc,
           ROUND(nodes.val + COALESCE(desc_bal.desc_bal, 0), 2)
             AS subtree_bal
    FROM nodes
    LEFT JOIN depth ON depth.dk = nodes.k
    LEFT JOIN root_of ON root_of.dk = nodes.k
    LEFT JOIN n_desc ON n_desc.ak = nodes.k
    LEFT JOIN desc_bal ON desc_bal.ak = nodes.k
    """


def triangle_stats(pairs: DataFrame, id_a: str = "doc_a",
                   id_b: str = "doc_b") -> DataFrame:
    """Exact triangle counting + local clustering coefficient over the
    undirected pair graph — the density signal on a near-dup candidate
    graph (a node inside a tight clique is a template/mirror family;
    a high-degree node with NO triangles is a hub joining unrelated
    docs, i.e. a boilerplate shingle artifact worth auditing).

    Algorithm: degree-ordered compact-forward. Every edge is oriented
    from its lower-(degree, id) endpoint to the higher, so each
    triangle {a,b,c} is enumerated exactly once at its lowest-rank
    apex: wedge (a→b, a→c) with rank(b) < rank(c), closed by the
    oriented edge (b→c). Wedge fan-out per apex is bounded by its
    OUT-degree, which degree-orientation caps at O(√E) (arboricity
    bound) — the standard way triangle counting survives power-law
    skew: the million-neighbor hub generates no wedges because all its
    edges point INTO it. Cost: one degree agg, one self-join on the
    apex key, one semi-join against the oriented edge set — all
    equi-joins on ids, no row ever carries text.

    Exactness: degrees, triangle counts are integers;
    clustering = 2·T / (d·(d−1)) is a single IEEE division of exact
    integers, bit-identical across engines (no libm, no rounding).

    Returns (doc_id, degree, n_tri, clustering), one row per node
    with degree ≥ 1.

    The edge list is EAGERLY checkpointed up front: the downstream DAG
    references it from five branches (degree agg, two degree joins,
    the wedge self-join's both sides, the closing semi-join), and a
    lazy persist lets those branches race to recompute the — typically
    expensive — pair-producing lineage before the cache fills
    (measured: 14.8 s → ~1 s on a 256-edge graph whose pairs come from
    the capped shingle self-join).
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # eagerly checkpointed like edges: three consumers (two degree
    # joins + the final output join) read the materialized id-sized
    # table — a lazy pin would be released at the end of the call
    # BEFORE the returned DataFrame ever executes (r9 advisor), so
    # it never held data during the real job
    deg = (
        und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("a", "v")
        .localCheckpoint(eager=True)
    )
    with_deg = (
        edges
        .join(deg.select(F.col("v").alias("a"),
                         F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"),
                         F.col("d").alias("db")), "b")
    )
    low_first = (
        F.struct(F.col("da"), F.col("a"))
        < F.struct(F.col("db"), F.col("b"))
    )
    # same: the wedge self-join's BOTH sides plus the closing
    # semi-join read orient — materialize its two-join lineage once
    orient = with_deg.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(low_first, F.col("db")).otherwise(F.col("da")).alias("dw"),
    ).localCheckpoint(eager=True)
    o1, o2 = orient.alias("o1"), orient.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (F.struct(F.col("o1.dw"), F.col("o1.w"))
           < F.struct(F.col("o2.dw"), F.col("o2.w"))),
    ).select(
        F.col("o1.u").alias("ta"),
        F.col("o1.w").alias("tb"),
        F.col("o2.w").alias("tc"),
    )
    tri = wedges.join(
        orient.select(F.col("u").alias("tb"), F.col("w").alias("tc")),
        ["tb", "tc"],
        "left_semi",
    )
    per_node = (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("v"))
        .groupBy("v").agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = deg.join(per_node, "v", "left").select(
        F.col("v").alias("doc_id"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
        .alias("n_tri"),
        F.when(
            F.col("d") >= 2,
            (F.lit(2.0) * F.coalesce(F.col("n_tri"), F.lit(0)))
            / (F.col("d") * (F.col("d") - F.lit(1))),
        ).otherwise(F.lit(0.0)).alias("clustering"),
    )
    # lazy return: everything downstream of the eager deg/orient
    # checkpoints is id-sized single-consumer lineage — a third eager
    # materialization here would only add job-launch latency
    return out


def triangle_oracle_sql(pairs_cte: str) -> str:
    """DuckDB oracle for :func:`triangle_stats` — the identical
    compact-forward enumeration (same orientation, same wedge order),
    so the per-node counts match row-for-row without any canonical-
    form slack. ``pairs_cte`` must end in ``pairs(doc_a, doc_b)``."""
    return f"""
    WITH {pairs_cte},
    e AS MATERIALIZED (SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs),
    und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS MATERIALIZED (SELECT a AS v, COUNT(*) AS d FROM und GROUP BY 1),
    orient AS MATERIALIZED (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b)
                  THEN e.a ELSE e.b END AS u,
             CASE WHEN (da.d, e.a) < (db.d, e.b)
                  THEN e.b ELSE e.a END AS w,
             CASE WHEN (da.d, e.a) < (db.d, e.b)
                  THEN db.d ELSE da.d END AS dw
      FROM e
      JOIN deg da ON e.a = da.v
      JOIN deg db ON e.b = db.v
    ),
    tri AS (
      SELECT o1.u AS ta, o1.w AS tb, o2.w AS tc
      FROM orient o1
      JOIN orient o2
        ON o1.u = o2.u AND (o1.dw, o1.w) < (o2.dw, o2.w)
      WHERE EXISTS (
        SELECT 1 FROM orient o3 WHERE o3.u = o1.w AND o3.w = o2.w
      )
    ),
    per_node AS (
      SELECT v, COUNT(*) AS n_tri
      FROM (
        SELECT ta AS v FROM tri
        UNION ALL SELECT tb AS v FROM tri
        UNION ALL SELECT tc AS v FROM tri
      ) GROUP BY 1
    )
    SELECT deg.v AS doc_id,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(per_node.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN deg.d >= 2
                THEN (CAST(2.0 AS DOUBLE) * COALESCE(per_node.n_tri, 0))
                     / (deg.d * (deg.d - 1))
                ELSE CAST(0.0 AS DOUBLE) END AS clustering
    FROM deg LEFT JOIN per_node ON deg.v = per_node.v
    """


def kcore_stats(pairs: DataFrame, k: int = 2, id_a: str = "doc_a",
                id_b: str = "doc_b", max_rounds: int = 8) -> DataFrame:
    """k-core decomposition (membership form) over the undirected pair
    graph: iteratively peel every node whose remaining degree is < k
    until the subgraph is stable — the surviving k-core is the
    "dense nucleus" of a duplication/link graph (a mirror farm or
    template family survives; chains and stars peel away), the
    density audit one level above triangle_stats' per-node view.

    Returns one row per node with degree ≥ 1 in the ORIGINAL graph:
    (doc_id, degree, core_degree, in_kcore) — core_degree is the
    node's degree inside the stable k-core subgraph (0 once peeled).

    Exactness: integer degrees and joins only — nothing to round.

    Scale shape: each peel round is one map-combined degree count and
    two semi-joins on node ids (never an all-pairs product); every
    round localCheckpoints so lineage stays flat (the PageRank
    iterative hygiene), and convergence is one count() scalar per
    round. The checkpoint is LAZY and the convergence count is the
    materializing action (r14, guide §1.2): one job per round does
    both, instead of the former eager-checkpoint job followed by a
    count job — same peel rounds, same shuffles, half the driver
    round-trips. Rounds are bounded by ``max_rounds`` with a loud
    ValueError if the peel has not stabilized — a green oracle row
    therefore PROVES the bound covered the fixture, because the
    unrolled-CTE oracle peels the same fixed number of rounds
    (kcore_oracle_sql).
    """
    sym = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).union(
        pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
    )
    edges = sym.distinct().localCheckpoint(eager=False)
    deg0 = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d0"))
    cur = edges
    n_cur = cur.count()  # materializes the lazy checkpoint — one job
    for _ in range(max_rounds):
        keep = (
            cur.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("a")
        )
        nxt = (
            cur.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()  # one job: materialize + convergence scalar
        cur = nxt
        if n_nxt == n_cur:
            break
        n_cur = n_nxt
    else:
        raise ValueError(
            f"kcore_stats: peel not stable after {max_rounds} rounds; "
            "raise max_rounds (and the oracle's unroll) for this graph"
        )
    core = cur.groupBy("a").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )
    return deg0.join(core, "a", "left").select(
        F.col("a").alias("doc_id"),
        F.col("d0").cast("bigint").alias("degree"),
        F.coalesce(F.col("core_degree"), F.lit(0)).cast("bigint")
        .alias("core_degree"),
        F.col("core_degree").isNotNull().alias("in_kcore"),
    )


def kcore_oracle_sql(pairs_cte: str, k: int = 2, rounds: int = 8) -> str:
    """Unrolled-iteration DuckDB oracle for :func:`kcore_stats`:
    ``rounds`` fixed peels (the Spark side raises if stability needs
    more, so a green comparison proves the unroll sufficed).
    ``pairs_cte`` must end in ``pairs(doc_a, doc_b)``."""
    blocks = [
        pairs_cte,
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # e{i} references e{i-1} three times (FROM + two IN probes) —
        # un-materialized, the unroll re-evaluates e0 3^rounds times
        # and exhausts file handles re-opening the parquet
        """e0 AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
          )
        )""",
        "d0 AS (SELECT a, COUNT(*) AS d FROM e0 GROUP BY 1)",
    ]
    for i in range(1, rounds + 1):
        blocks.append(f"""keep{i} AS MATERIALIZED (
          SELECT a FROM (
            SELECT a, COUNT(*) AS c FROM e{i - 1} GROUP BY 1
          ) WHERE c >= {int(k)}
        ), e{i} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{i - 1} e
          WHERE e.a IN (SELECT a FROM keep{i})
            AND e.b IN (SELECT a FROM keep{i})
        )""")
    body = ",\n    ".join(blocks)
    return f"""
    WITH {body},
    core AS (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS core_degree
      FROM e{rounds} GROUP BY 1
    )
    SELECT d0.a AS doc_id,
           CAST(d0.d AS BIGINT) AS degree,
           CAST(COALESCE(core.core_degree, 0) AS BIGINT) AS core_degree,
           core.a IS NOT NULL AS in_kcore
    FROM d0 LEFT JOIN core ON core.a = d0.a
    """


def label_propagation(pairs: DataFrame, id_a: str = "doc_a",
                      id_b: str = "doc_b", n_iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) on the undirected pair graph — fixed
    ``n_iters`` rounds, deterministic tie-break.

    Every node starts labeled with its own id; each round, a node
    adopts the label carried by the PLURALITY of its neighbors, ties
    broken by the SMALLEST label (the classic random tie-break made
    deterministic so both engines replay the same trajectory —
    synchronous LPA can oscillate on bipartite structure, and a fixed
    iteration count replays any oscillation identically rather than
    hiding it). Returns ``(node, community, comm_size)``.

    Exactness: integers/strings end-to-end — labels are node ids,
    votes are COUNT(*), the argmax is (count DESC, label ASC) — so
    cross-engine parity is exact with NO rounding anywhere (stricter
    even than PageRank, which at least emits doubles).

    Scale shape: each round is one join of labels against edges on the
    source key (label table is node-sized, edge table E-sized) plus
    one map-combined (node, label) vote count whose argmax is a
    ``min_by`` aggregate — two shuffles per round, O(E) work, no
    windows. Lineage is cut with an eager localCheckpoint every second
    round (iterative-plan hygiene, same as pagerank)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"),
                            F.col(id_a).alias("dst")))
    )
    with pinned(edges):
        labels = edges.select(F.col("src").alias("node")).distinct() \
            .select("node", F.col("node").alias("lab"))
        for i in range(n_iters):
            votes = (
                labels.join(edges, labels["node"] == edges["src"])
                .groupBy(F.col("dst").alias("n"), "lab")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # plurality label, smallest label on ties: min over the
            # (-count, label) struct — no per-node window needed
            labels = votes.groupBy(F.col("n").alias("node")).agg(
                F.min_by(
                    "lab", F.struct((-F.col("c")).alias("nc"), F.col("lab"))
                ).alias("lab")
            )
            if i % 2 == 1:
                labels = labels.localCheckpoint(eager=True)
        sizes = labels.groupBy("lab").agg(
            F.count(F.lit(1)).cast("bigint").alias("comm_size"))
        return labels.join(sizes, "lab").select(
            "node", F.col("lab").alias("community"), "comm_size")


def lpa_oracle_sql(pairs_cte: str, n_iters: int = 4) -> str:
    """Unrolled-iteration DuckDB oracle for :func:`label_propagation`.
    ``pairs_cte`` must end in ``pairs(doc_a, doc_b)``; ``n_iters``
    chained CTEs replay the identical plurality/min-label votes."""
    blocks = [
        pairs_cte,
        """edges AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs
        )""",
        """l0 AS (
          SELECT DISTINCT src AS node, src AS lab FROM edges
        )""",
    ]
    for i in range(1, n_iters + 1):
        blocks.append(f"""v{i} AS MATERIALIZED (
          SELECT e.dst AS node, l.lab, COUNT(*) AS c
          FROM edges e JOIN l{i - 1} l ON l.node = e.src
          GROUP BY 1, 2
        ), l{i} AS MATERIALIZED (
          SELECT node, lab FROM (
            SELECT node, lab,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, lab) AS rn
            FROM v{i}
          ) WHERE rn = 1
        )""")
    body = ",\n    ".join(blocks)
    return f"""
    WITH {body},
    sizes AS (
      SELECT lab, CAST(COUNT(*) AS BIGINT) AS comm_size
      FROM l{n_iters} GROUP BY 1
    )
    SELECT l.node, l.lab AS community, s.comm_size
    FROM l{n_iters} l JOIN sizes s ON s.lab = l.lab
    """
