"""Graph operators over similarity/dedup edge sets: PageRank centrality.

The dedup family produces pair graphs (MinHash/SimHash/LSH candidates, the
KNN graph); centrality over those graphs is how production curation picks
canonical representatives and weights coreset samples.  Connected
components live in ``operators/dedup.py:dedup_clusters`` (pointer
jumping); this module adds the power-iteration family.

Scale notes: one iteration is one equi-join (edges x ranks, shuffled on
the src key) plus one groupBy on dst — the textbook Spark PageRank shape.
Rank state is integer nano-units, so every per-iteration SUM is an exact
long aggregate: no summation-order divergence between engines, and the
whole power iteration replays in ANSI SQL for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import CacheScope, shared


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "node_id",
    scope=None,
) -> DataFrame:
    """Damped PageRank by ``iters`` power iterations over an explicit node
    set (isolated nodes keep the base rank):

        r_0(v)     = 1/N
        r_{i+1}(v) = (1-d)/N + d * sum_{u -> v} r_i(u) / outdeg(u)

    Mass from dangling nodes (no out-edges) is dropped, not redistributed
    — the common simplification for similarity graphs where danglers are
    rare and the ranking (not the exact stationary distribution) is what
    matters; the oracle replays the same rule.

    Ranks are held as integer nano-units: the per-edge contribution
    ``floor(r_ni * d / deg + 0.5)`` is a fixed per-row op chain
    (bit-identical across engines) and the per-node SUM is an exact long
    aggregate, so the result hash-matches at any parallelism.

    Output: ``(node_id, rank)`` with rank rounded to 6 decimals.

    Scale: per iteration one shuffle of (src, r_ni) longs against the
    edge list and one (dst, contrib) groupBy — never the node payloads;
    the iteration count is a contract-bounded constant (ranking
    stabilizes in a handful of iterations on bounded-degree similarity
    graphs).  The (src, dst, deg) edge frame is persisted so an expensive
    upstream edge generator (LSH candidate chain) runs once, not once per
    iteration.  Lifetime (``cache.py`` contract): by default the
    node-sized rank result is pinned and the edge persist released before
    returning; pass ``scope=CacheScope()`` to keep the plan lazy and
    release via the scope.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    s = CacheScope.of(scope)
    e = s.keep(e.join(deg, "src"))
    n_ids = nodes.select(F.col(id_col).alias("node"))
    tot = n_ids.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    base_ni = F.floor(
        F.lit(1e9) * F.lit(1.0 - damping) / F.col("n_nodes").cast("double") + F.lit(0.5)
    ).cast("long")
    r = n_ids.crossJoin(F.broadcast(tot)).select(
        "node",
        F.floor(F.lit(1e9) / F.col("n_nodes").cast("double") + F.lit(0.5))
        .cast("long")
        .alias("r_ni"),
    )
    contrib = F.floor(
        F.col("r_ni").cast("double") * F.lit(damping) / F.col("deg").cast("double")
        + F.lit(0.5)
    ).cast("long")
    for _ in range(iters):
        inflow = (
            e.join(r, e.src == r.node)
            .select("dst", contrib.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_ni"))
        )
        r = (
            n_ids.crossJoin(F.broadcast(tot))
            .join(inflow, n_ids.node == inflow.dst, "left")
            .select(
                "node",
                (base_ni + F.coalesce(F.col("in_ni"), F.lit(0))).alias("r_ni"),
            )
        )
    res = r.select(
        F.col("node"), F.round(F.col("r_ni").cast("double") / 1e9, 6).alias("rank")
    )
    return s.result(res)


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst", scope=None
) -> DataFrame:
    """Triangle counting via the degree-ordered edge orientation (Suri &
    Vassilvitskii 2011, "Counting Triangles and the Curse of the Last
    Reducer"): symmetrize to an undirected edge set, orient every edge
    from its lower-(degree, id) endpoint to the higher, and count each
    triangle exactly once as a wedge (a→b, a→c) whose closing oriented
    edge (b→c) exists.

    Why the orientation matters at scale: wedges fan out quadratically in
    out-degree, and on a power-law graph a hub's degree is unbounded —
    but the degree-ordered orientation caps every node's OUT-degree at
    O(sqrt(m)), so the wedge stage is bounded even when raw degrees are
    not.  That is the difference between "works on the KNN graph" and
    "works on the web graph".  Three equi-joins + aggregates, no
    broadcast requirement anywhere.

    The (deg, id) comparison is spelled as explicit boolean arithmetic
    (not struct ordering) so the engine and the SQL oracle share one
    total order.  Output: one row (n_wedges, n_triangles).
    """
    # und feeds the degree count AND the orientation join; oriented feeds
    # both wedge arms and the closing-edge probe — persist both so the
    # upstream edge lineage (e.g. the KNN LSH chain) executes once, not
    # once per reference.  Lifetime (cache.py contract): the 1-row result
    # is pinned and both persists released by default; a passed scope
    # keeps the plan lazy and owns the release.
    s = CacheScope.of(scope)
    und = s.keep(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d = und.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), on="u").join(
        deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), on="v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = s.keep(
        d.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    o1 = oriented.select(F.col("a"), F.col("b").alias("b1"), F.col("db").alias("db1"))
    o2 = oriented.select(F.col("a"), F.col("b").alias("b2"), F.col("db").alias("db2"))
    wedges = o1.join(o2, on="a").filter(
        (F.col("db1") < F.col("db2"))
        | ((F.col("db1") == F.col("db2")) & (F.col("b1") < F.col("b2")))
    )
    closing = oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    tris = wedges.join(closing, on=["b1", "b2"])
    res = wedges.agg(F.count(F.lit(1)).alias("n_wedges")).crossJoin(
        F.broadcast(tris.agg(F.count(F.lit(1)).alias("n_triangles")))
    )
    return s.result(res)


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002, clamped
    seeds): spread a seed set's labels through an undirected graph — each
    iteration every UNSEEDED node takes the majority label of its
    currently-labeled neighbors (ties → smallest label); seed labels are
    clamped.  In an LLM-curation pipeline this is how a few thousand
    human quality labels extend to the whole corpus along the KNN
    similarity graph.

    Deterministic by construction: the per-node argmax is
    min(struct(-count, label)) — count desc, label asc — so any engine
    (and the SQL oracle) picks the identical label.  One equi-join + one
    keyed aggregate per iteration, state checkpointed per step (plans
    stay O(1) deep, the dedup_clusters lineage bound).

    Output: (node_col, label_col) for every node labeled after ``iters``
    rounds (unreached nodes are absent).
    """
    # the symmetrized edge set is scanned every iteration and its lineage
    # contains the caller's edge-generation chain twice (the union arms) —
    # checkpoint once so iterations join a materialized table.  All
    # checkpoints here are LAZY (cache.shared), with the same lineage
    # truncation as eager ones.  An eager cut runs its whole input as one
    # extra job now; a lazy one runs only its last stage inside the
    # caller's action.  Under AQE (on by default) the shuffle stages below
    # each lazy cut still run as separate jobs while the plan is built.
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().transform(shared)
    seed = seeds.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("slab")
    ).transform(shared)
    labels = seed.select("n", F.col("slab").alias("lab"))
    for _ in range(iters):
        votes = (
            und.join(labels.select(F.col("n").alias("a"), "lab"), on="a")
            .groupBy(F.col("b").alias("n"), F.col("lab"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = votes.groupBy("n").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("lab").alias("lab"))).alias(
                "w"
            )
        ).select("n", F.col("w.lab").alias("plab"))
        labels = (
            winner.join(seed, on="n", how="full_outer")
            .join(labels.select(F.col("n"), F.col("lab").alias("old")), on="n", how="full_outer")
            .select("n", F.coalesce(F.col("slab"), F.col("plab"), F.col("old")).alias("lab"))
            .transform(shared)
        )
    return labels.select(F.col("n").alias(node_col), F.col("lab").alias(label_col))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
) -> DataFrame:
    """k-core of an undirected graph by iterative peeling: repeatedly
    drop nodes with degree < k (and their edges) until the minimum
    degree is >= k.  The classic density filter over similarity/dedup
    graphs — a node in the 4-core of a near-dup KNN graph sits inside a
    dense duplicate neighborhood no single-pair threshold would catch,
    and coreness is the standard seed filter for community mining.

    Peeling is CONFLUENT (the k-core is the unique maximal subgraph of
    min degree >= k, reached regardless of removal order), so any
    engine that removes all sub-k nodes per round converges to the
    identical fixpoint — the property the SQL oracle relies on.

    Shape per round: one keyed degree aggregate + two semi-joins against
    the surviving node set, state localCheckpoint'ed so plans stay O(1)
    deep (the dedup_clusters lineage bound).  Rounds are O(peel depth)
    — bounded by the degeneracy ordering length, a handful on bounded-
    degree KNN graphs.  Each round strictly shrinks the edge set, so the
    count-based stop never spins.

    Output: ``(node, deg)`` — nodes in the k-core with their within-core
    degree; empty when the core is empty.

    Self-loops are dropped up front: a src==dst row would survive the
    undirected union+distinct as a single row and contribute degree 1,
    peeling (or keeping) its node incorrectly — k-core degree is defined
    over simple edges.
    """
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("a"), F.col(src).alias("b")
            )
        )
        .distinct()
        # lazy: the count() below materializes the checkpoint's last
        # stage, so no separate checkpoint job runs (the label_propagation
        # eager->lazy pattern; measured a wash locally).  Under AQE the
        # distinct's shuffle stage still runs as its own job while the
        # plan is built.
        .transform(shared)
    )
    n_cur = und.count()
    converged = n_cur == 0
    for _ in range(max_iters):
        if n_cur == 0:
            converged = True
            break
        keep = (
            und.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        nxt = (
            und.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            # lazy + count: no separate checkpoint job, but under AQE the
            # shuffle stages below the cut still run as jobs of their own
            # while the plan is built (see the und checkpoint note)
            .transform(shared)
        )
        n_next = nxt.count()
        if n_next == n_cur:
            converged = True
            break
        und, n_cur = nxt, n_next
    if not converged:
        # a long-chain peel (e.g. a path graph sheds 2 endpoints/round)
        # can exceed the round budget; returning the partial state would
        # silently violate the min-degree >= k contract the oracle holds
        raise RuntimeError(
            f"k_core did not reach the fixpoint within max_iters={max_iters}; "
            "raise max_iters (each round strictly shrinks the edge set)"
        )
    return (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
