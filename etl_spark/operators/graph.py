"""Iterative graph algorithms on DataFrames: connected components.

Deduplication pipelines need this step: near-dup PAIRS (from LSH or
Jaccard) must become canonical GROUPS (every doc labeled with its
cluster's minimum id) before a keep-one policy can run. Components are
computed by alternating large-star / small-star contraction (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14 — the
same public algorithm GraphFrames ships):

    large-star(u): connect every neighbor LARGER than u to
                   m = min(N(u) ∪ {u})
    small-star(u): connect u and every smaller neighbor to
                   m = min of that set

Each operation preserves connectivity, and the alternation converges
in O(log n) rounds to a forest of stars: every non-minimum vertex
holds exactly one edge to its component's minimum.

Why not minimum-label propagation (the previous implementation): on
clique-dense graphs — exactly the near-dup shape — label propagation
pays a full |E|-row join + groupBy EVERY round (measured: 558 s for
mm_phash_clusters on the perturbed-decade corpus's ~25M-edge clique
field). Star contraction collapses a k-clique to a k-edge star in the
FIRST round, so every later round is node-proportional, not
edge-proportional — the per-round volume argument is in SCALING.md.

Scale notes:
* Every step is a key groupBy (map-side-combinable MIN) + an
  equi-join on the same key — fully distributed, no broadcast of
  data-sized sides, hot star-roots are single-row on the build side.
* ``localCheckpoint`` (eager, DISK_ONLY) after every round truncates
  the lineage — without it the plan doubles per iteration — and keeps
  checkpoint blocks out of the heap the sort tasks need (the sf1
  plain-driver OOM lesson from triangle_count).
* Convergence = edge-set fixpoint (count equal + anti-join empty),
  then a structural star-forest check (no vertex both parent and
  child) so any non-star fixpoint fails LOUDLY instead of silently
  mislabeling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

MAX_ITERATIONS = 20


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round. ``e``: distinct (child, parent) edges,
    child > parent. For each vertex u (over the UNDIRECTED
    neighborhood), every neighbor v > u re-points to
    m = min(N(u) ∪ {u}). Output keeps the child > parent invariant:
    v > u >= m."""
    # Both directions from ONE scan (explode, not a self-union: a
    # generator row-doubles in place, and self-union constraint
    # rewriting is a known Catalyst soft spot on checkpointed inputs).
    both = e.select(
        F.explode(
            F.array(
                F.struct(F.col("child").alias("c"), F.col("parent").alias("p")),
                F.struct(F.col("parent").alias("c"), F.col("child").alias("p")),
            )
        ).alias("d")
    ).select(F.col("d.c").alias("child"), F.col("d.p").alias("parent"))
    mins = (
        both.groupBy("child")
        .agg(F.min("parent").alias("mn"))
        .select("child", F.least("mn", "child").alias("m"))
    )
    return (
        both.join(mins, "child")
        .where(F.col("parent") > F.col("child"))
        .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
        .where(F.col("child") != F.col("parent"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round. ``e``: distinct (child, parent) edges,
    child > parent — so the rows grouped by ``child`` ARE u's
    smaller-neighbor list. u and every smaller neighbor re-point to
    m = min of the list; both output shapes keep child > parent."""
    mins = e.groupBy("child").agg(F.min("parent").alias("m"))
    # Emit (smaller-neighbor → m) and (u → m) from the SAME joined
    # scan via a generator (no union — see _large_star). The (u, m)
    # row repeats per neighbor and the m-itself row degenerates to a
    # self-loop; distinct + the self-loop filter absorb both.
    return (
        e.join(mins, "child")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("parent").alias("c"), F.col("m").alias("p")),
                    F.struct(F.col("child").alias("c"), F.col("m").alias("p")),
                )
            ).alias("d")
        )
        .select(F.col("d.c").alias("child"), F.col("d.p").alias("parent"))
        .where(F.col("child") != F.col("parent"))
        .distinct()
    )


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Label every vertex with its component's minimum vertex id.

    vertices: one column ``id``; edges: columns ``src``, ``dst``
    (undirected — orientation, duplicates and self-loops are all
    normalized internally; endpoints must be ⊆ vertices).
    Returns (id, component).
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("child"),
            F.least("src", "dst").alias("parent"),
        )
        .where(F.col("child") != F.col("parent"))
        .distinct()
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_edges = e.count()

    for _ in range(MAX_ITERATIONS):
        nxt = _small_star(_large_star(e)).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        n_nxt = nxt.count()
        # Fixpoint test on DISTINCT sets: equal cardinality plus
        # no-new-edge (one anti-join) ⇔ set equality.
        converged = n_nxt == n_edges and nxt.join(
            e, ["child", "parent"], "left_anti"
        ).isEmpty()
        e, n_edges = nxt, n_nxt
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} "
            f"rounds ({n_edges} edges still moving); the alternation "
            "bound is O(log n) — raise MAX_ITERATIONS"
        )
    # Structural guarantee before labeling: a fixpoint that is not a
    # star forest (a vertex appearing as BOTH parent and child) would
    # silently mislabel — fail loudly instead. One anti-join over the
    # final (collapsed) edge set.
    if not e.join(
        e.select(F.col("child").alias("parent")), "parent", "semi"
    ).isEmpty():
        raise RuntimeError(
            "connected_components fixpoint is not a star forest — "
            "this is a bug in the star contraction, not the input"
        )
    labels = e.select(F.col("child").alias("id"), F.col("parent").alias("component"))
    roots = vertices.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labels.union(roots)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count by degree-ordered wedge counting
    (node-iterator++ with map-side combine).

    ``edges``: columns ``src``, ``dst``, one row per undirected edge,
    no self-loops, no duplicate edges in either direction. Returns a
    1-row DataFrame ``(n_triangles: bigint)``.

    Orient every edge from its (degree, id)-smaller endpoint to the
    larger — a total order, so orientation is well-defined and
    acyclic. For a triangle {a < b < c} in that order, its three
    edges orient a→b, a→c, b→c, so it is counted exactly once: as
    the wedge (b, c) generated at a, closed by the oriented edge
    (b, c).

    Scale shape, in order of what goes wrong on dense near-dup
    graphs (every alternative below was MEASURED to OOM a plain-1g
    driver on the 10x-replicated corpus, m = 4.9M edges,
    sum(outdeg^2) = 6e8):

    * Join-enumeration (e1 JOIN e2 JOIN e3) sorts the THETA(sum
      outdeg^2) wedge set for its second SMJ — died in the spill
      merger.
    * Attaching full out-neighbor arrays to every edge and
      ``array_intersect``-ing ships the same THETA(sum outdeg^2)
      entries, just packaged as per-edge array copies — died the
      same way.
    * This form never materializes raw wedges across a shuffle:
      wedges stream out of a per-adjacency-row generator (posexplode
      + tail-slice explode, every in-flight array bounded by the
      O(sqrt(m)) degree-ordered out-degree) straight into a partial
      hash aggregate, so the shuffle carries only DISTINCT wedge
      endpoints with counts. On clique-heavy graphs (the near-dup
      case) that is a ~100x map-side compression: distinct wedges
      are O(m) while raw wedges are O(m^1.5). The close step is one
      skinny-row SMJ against the oriented edges — nothing
      broadcast, no per-task hash build, every sort spillable.
    """
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ds = deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_s"))
    dd = deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_d"))
    src_first = (F.col("deg_s") < F.col("deg_d")) | (
        (F.col("deg_s") == F.col("deg_d")) & (F.col("src") < F.col("dst"))
    )
    # Every join side is edge- or node-cardinality (corpus-derived):
    # merge hints pin spill-safe SMJ — AQE's auto-broadcast and a
    # shuffled-hash build both OOM'd the plain-driver 10x contract
    # drive on exactly this operator's predecessors.
    # DISK_ONLY: the oriented edge table is data-sized, and holding
    # its deserialized blocks in heap storage while 8 concurrent sort
    # tasks need execution memory is what OOM'd the plain-1g sf1
    # drive — checkpoint blocks must not compete with sorts for heap.
    oriented = (
        edges.join(ds.hint("merge"), "src")
        .join(dd.hint("merge"), "dst")
        .select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        )
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    adj = oriented.groupBy(F.col("u").alias("node")).agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    )
    # Wedge generator: for each sorted adjacency row, emit every
    # ordered pair (nbrs[i], nbrs[j]) with i < j — as two chained
    # generators so no intermediate array ever exceeds the adjacency
    # row itself. Immediately grouped: the partial (map-side) hash
    # aggregate collapses repeated wedges BEFORE the shuffle.
    wedge_counts = (
        adj.select(F.posexplode("nbrs").alias("i", "lo"), F.col("nbrs"))
        .select(
            "lo",
            F.explode(
                F.slice(
                    F.col("nbrs"), F.col("i") + 2, F.greatest(F.size("nbrs"), F.lit(1))
                )
            ).alias("hi"),
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_wedges"))
    )
    # Wedge pairs come out id-ordered (the adjacency array is sorted
    # by id), while oriented edges run (degree, id)-low to high — so
    # normalize the closing edge to id order for the equi-join. The
    # once-per-triangle guarantee lives in WHERE the wedge is
    # generated (only at the (degree, id)-minimum vertex), not in
    # the close key's ordering.
    closing = oriented.select(
        F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
    )
    return (
        wedge_counts.join(closing.hint("merge"), ["lo", "hi"])
        .agg(
            F.coalesce(F.sum("n_wedges"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )


PR_SCALE = 10**12     # fixed-point rank scale (1.0 == 10^12)
PR_DAMP = 85          # damping factor, percent


def pagerank_integer(edges: DataFrame, iterations: int) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge set, in exact
    fixed-point integer arithmetic.

    edges: columns ``src``, ``dst`` (undirected; both directions are
    derived internally). Vertices are the edge endpoints — callers
    wanting isolated vertices ranked must handle them separately (an
    isolated vertex's rank is the constant teleport term anyway).
    Returns (id, pr) with pr a BIGINT on the 10^12 fixed-point scale.

    Why integers: float PageRank sums are order-sensitive, so a
    distributed reduce is not bit-reproducible run-to-run, let alone
    engine-to-engine. On the fixed-point lattice every contribution is
    rank div degree (integer division, positive operands), the
    neighbor sum is an associative BIGINT sum, and the damping step is
    (85 * s) div 100 — deterministic everywhere, same answer in the
    unrolled-CTE SQL oracle. Overflow headroom: the damping multiply
    is evaluated as 85*(s div 100) + (85*(s mod 100)) div 100 —
    algebraically identical for s >= 0 but never forming the 85x
    intermediate (a naive 85*s wraps int64 once a hub's neighbor sum
    passes ~1.1e17, i.e. ~1e5 star neighbors at this SCALE, and Spark
    multiplies BIGINTs silently in non-ANSI mode while the oracle's
    HUGEINT stays exact). With the decomposition the binding bound is
    the neighbor sum itself, <= SCALE * n_vertices: 2^63 accommodates
    ~9e6 vertices per component at this scale; drop SCALE one decade
    per decade above that.

    Scale notes: each iteration is one key join + one groupBy — the
    same shuffle shape as connected_components; the rank vector is the
    only state that moves. The iteration count is a fixed constant,
    so the lineage stays O(iterations) deep and needs no
    checkpointing.

    Iterations-vs-stability: the fixed count is EVIDENCE-backed for
    the graph class this ranks — on the registered dup-pair graph the
    full rank order is identical across iterations PR_ITERS-1 ..
    PR_ITERS+1 (tests/test_pagerank_pq.py::
    test_pagerank_rank_order_stable_at_shipped_iterations), so more
    rounds cannot change a keep/drop decision. The claim is scoped,
    not universal: undirected power iteration oscillates rank order
    with period 2 on path-like graphs (negative adjacency
    eigenvalues; demonstrated by the lollipop fixture in
    test_pagerank_order_oscillation_caveat_is_real). Dup clusters
    are near-cliques, the non-oscillating class; rank a path-heavy
    graph and you must average consecutive iterates or check parity.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    both_ways = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = both_ways.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ids = deg.select(F.col("src").alias("id"))
    base = (100 - PR_DAMP) * PR_SCALE // 100
    ranks = ids.select("id", F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for _ in range(iterations):
        contribs = (
            both_ways.join(deg, "src")
            .join(ranks, F.col("src") == F.col("id"))
            .select(F.col("dst"), F.expr("pr div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            ids.join(contribs, ids.id == contribs.dst, "left")
            .select(
                "id",
                (
                    F.lit(base)
                    # == (DAMP * s) div 100 for s >= 0, without the
                    # DAMP-x intermediate (see overflow headroom above)
                    + F.expr(
                        f"{PR_DAMP} * (coalesce(s, CAST(0 AS BIGINT))"
                        f" div 100) + ({PR_DAMP} *"
                        " (coalesce(s, CAST(0 AS BIGINT)) % 100)) div 100"
                    )
                )
                .cast("bigint")
                .alias("pr"),
            )
        )
    return ranks
