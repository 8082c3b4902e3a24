"""Graph operators on DataFrames: connected components and transitive
dedup clusters, triangle census, PageRank, BFS, label propagation,
k-core and weighted shortest paths.

Near-duplicate detection yields PAIRS; correct dedup needs CLUSTERS
(a~b, b~c ⇒ {a,b,c} keep one). ``connected_components`` computes them
by iterated min-label propagation with pointer jumping, entirely in
DataFrame algebra — no GraphFrames dependency, no driver-side graph.

The operators that iterate to a fixpoint (``connected_components``,
``kcore``, ``bellman_ford``) share one loop, ``_fixpoint``: one job
per round, an exact 1-row probe, and a RuntimeError when the round
budget runs out. ``bfs_distances`` and ``label_propagation`` run a
fixed round count instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def _edge_set(
    edges: DataFrame, src: str, dst: str, undirected: bool
) -> DataFrame:
    """(src, dst): the distinct edge list, both directions when
    ``undirected``, materialised once. Every round re-reads it, and
    ``edges`` may itself be an expensive pipeline (the near-dup
    candidate join) that must not be recomputed per round."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return e.distinct().localCheckpoint(eager=True)


def _fixpoint(
    frame: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: list[Column],
    max_rounds: int,
    op: str,
) -> DataFrame:
    """Apply ``step`` until the 1-row aggregate of ``probe`` repeats;
    return the frame of the round that repeated it.

    Each round's frame is checkpointed lazily, so the probe's single
    job both computes the round and materialises it: the next round
    reads those blocks instead of re-running the lineage, at one job
    per round. ``localCheckpoint`` keeps the blocks in executor storage
    only — it is not fault tolerant, and losing an executor fails the
    query rather than recomputing the lost rounds.

    The probe is exact, not a checksum, when ``step`` is monotone and
    the probe strictly monotone in it (a row count over a set that only
    shrinks or only grows, a sum over values that never increase): an
    unchanged row then means an unchanged frame. Raises RuntimeError
    when ``max_rounds`` rounds pass without a fixpoint, so a partial
    result never passes as the answer.
    """
    prev = None
    for _ in range(max_rounds):
        frame = step(frame).localCheckpoint(eager=False)
        row = frame.agg(*probe).collect()[0]
        if row == prev:
            return frame
        prev = row
    raise RuntimeError(f"{op}: no fixpoint within {max_rounds} rounds")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    the minimum vertex id reachable from it.

    Each round is a neighbor-min pass, label(v) ← min(label(v), labels
    of v's neighbors), then a pointer jump, label(v) ← label(label(v)).
    Neighbor-min alone needs O(diameter) rounds (the semantic-dedup
    similarity graph has diameter ~12); the jump cuts that to
    O(log diameter). Labels only ever take ids from v's own component
    and never increase, so the fixpoint is the component minimum and
    Σ component is an exact probe; summed as decimal(38,0), it cannot
    overflow below ~10^19 vertices, whatever the bigint ids.
    Deterministic: labels are ids, min is order-free. Raises RuntimeError when ``max_iter``
    rounds do not reach the fixpoint.
    """
    sym = _edge_set(edges, src, dst, undirected=True)
    labels = sym.select(F.col("src").alias("vertex")).distinct().select(
        "vertex", F.col("vertex").alias("component")
    )

    def step(labels: DataFrame) -> DataFrame:
        neigh = (
            sym.join(labels, sym.dst == labels.vertex)
            .select(F.col("src").alias("vertex"), F.col("component"))
            .unionByName(labels)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        # `neigh` is read twice, so each round recomputes one small
        # join + agg: rounds are latency-bound, and the jump saves rounds
        return neigh.join(
            neigh.select(
                F.col("vertex").alias("_lv"), F.col("component").alias("_lc")
            ),
            F.col("component") == F.col("_lv"),
            "left",
        ).select("vertex", F.coalesce("_lc", "component").alias("component"))

    return _fixpoint(
        labels,
        step,
        [F.sum(F.col("component").cast("decimal(38,0)"))],
        max_iter,
        "connected_components",
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """From near-dup pairs to a drop-list: every vertex whose cluster
    representative (min id in its component) is not itself.

    Output: (<src> alias 'drop_id', component) — anti-join your
    corpus against drop_id to keep exactly one doc per cluster.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.where(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("drop_id"), F.col("component")
    )


def keep_best_per_cluster(
    cc: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Quality-ranked cluster representative: instead of keeping the
    min-id doc per near-dup cluster (``dedup_clusters``), keep the
    HIGHEST-``score_col`` doc (ties → lowest id) — what a curation
    pipeline actually wants when duplicates differ in quality
    (truncation, boilerplate, OCR noise).

    Inputs: ``cc`` = (vertex, component) from
    ``connected_components``; ``scores`` = (id_col, score_col).
    Output: (id_col, component, score_col, is_rep) — one True per
    component, deterministic.

    Plan: one broadcast-or-shuffle join on the vertex id + one window
    over ``component`` (single shuffle; cluster sizes are tiny so no
    skew hazard).
    """
    joined = cc.join(scores, cc["vertex"] == scores[id_col]).select(
        scores[id_col], cc["component"], scores[score_col]
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return joined.select(
        id_col,
        "component",
        score_col,
        (F.row_number().over(w) == 1).alias("is_rep"),
    )


def triangle_stats(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Per-vertex degree, triangle count, and local clustering
    coefficient over an undirected edge set.

    Triangle participation is the transitivity signal on a near-dup
    candidate graph: vertices whose neighbors are ALSO pairwise
    similar sit in genuine duplicate cliques, while bridge vertices
    (high degree, few triangles) usually mark boilerplate-induced
    false candidates worth re-scoring.

    Algorithm (Suri–Vassilvitskii shape, the MapReduce-scale one):
    orient each undirected edge from the (degree, id)-smaller vertex
    to the larger; every triangle then has exactly one wedge at its
    smallest vertex, so the wedge join `E'(u,v) ⋈ E'(v,w) ⋈ E'(u,w)`
    enumerates each triangle once. Orientation bounds every
    out-neighborhood by O(√m) regardless of skew — a celebrity vertex
    of degree d contributes wedges only toward HIGHER-ranked vertices,
    so the join fan-out never goes quadratic in d.

    Plan: degree agg (one shuffle) → broadcast-degree orientation →
    two equality self-joins on the oriented edge list → role-union
    count per vertex. Output: (vertex, degree, triangles, clustering)
    where clustering = 2·triangles / (degree·(degree−1)) (0.0 for
    degree 1), rounded to 4 — exact rational before the final divide,
    so cross-engine hash-stable.
    """
    # Materialize the canonical edge list ONCE (r13): `und` feeds the
    # degree aggregate, the orientation join (twice), all three legs
    # of the wedge/closure joins and the final report — without the
    # checkpoint every reference re-inlines the PRODUCER of `edges`
    # (for the near-dup graph that is the whole Sum-df^2 jaccard
    # candidate flow, re-executed up to 8x). The near-dup edge list
    # is pairs-above-threshold — orders of magnitude below corpus
    # scale by construction.
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("vertex"))
        .unionByName(und.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("degree"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("vertex", "u"), "u")
        .withColumnRenamed("degree", "deg_u")
        .join(
            deg.select(F.col("vertex").alias("v"), F.col("degree").alias("deg_v")),
            "v",
        )
    )
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tris = wedges.join(
        oriented.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
    ).select("x", "y", "z")
    tri_per_vertex = (
        tris.select(F.col("x").alias("vertex"))
        .unionByName(tris.select(F.col("y").alias("vertex")))
        .unionByName(tris.select(F.col("z").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("triangles"))
    )
    possible = F.col("degree") * (F.col("degree") - 1)
    return (
        deg.join(tri_per_vertex, "vertex", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0)))
        .withColumn(
            "clustering",
            F.round(
                F.when(
                    F.col("degree") > 1,
                    2 * F.col("triangles") / possible,
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .select("vertex", "degree", "triangles", "clustering")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.875,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
    personalization: list | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank by unrolled power iteration: (vertex, pagerank).

    Each round is ONE join (edge ⋈ current ranks on the source) and
    ONE aggregation (sum of rank/degree contributions per target) —
    two shuffles, the same per-round shape as `connected_components`,
    with the edge+degree side materialized once via localCheckpoint
    so no iteration re-runs the upstream edge pipeline. The vertex
    count rides along as a broadcast 1-row aggregate; the driver
    never holds ranks.

    With ``undirected=True`` (the near-dup-graph case) edges are
    symmetrized, so every vertex has out-degree ≥ 1 and the dangling
    -mass correction vanishes; rank mass is conserved at exactly 1.
    The default damping 0.875 = 7/8 is binary-exact, which keeps the
    (1−d)/N + d·s update bit-stable enough that ranks rounded to 12
    decimals are engine-portable (differential-testing discipline —
    the float error of plain SUM aggregation is ~1e-19 absolute on
    O(1/N) ranks, nine orders below the rounding grid, and the
    damping contraction shrinks it every round).

    ``personalization`` (a vertex list) switches to personalized
    PageRank: teleport mass lands uniformly on that source set
    instead of all vertices (p_v = 1/|S| on S, else 0; init = p) —
    similarity-to-seed ranking for recommendation / related-item
    queries. Vertices unreachable from S converge toward 0.
    """
    if weight_col is not None:
        # weighted: contributions are rank·w/out-strength. Integer
        # count weights keep out-strengths exact; the per-edge double
        # is then identical cross-engine and the plain-SUM noise sits
        # as far below the caller's rounding grid as the unweighted
        # case (see the damping-contraction argument above).
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight_col).alias("w"),
        )
        if undirected:
            e = e.unionByName(
                e.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("w"),
                )
            )
        e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if undirected:
            e = e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        e = e.distinct().withColumn("w", F.lit(1))
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # one materialization reused by every round
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    verts = deg.select(F.col("src").alias("vertex"))
    n = verts.agg(F.count("*").alias("n"))
    if personalization is None:
        base = verts.crossJoin(F.broadcast(n)).select(
            "vertex", (F.lit(1.0) / F.col("n")).alias("p")
        )
    else:
        seeds = sorted(set(personalization))
        seed_df = edges.sparkSession.createDataFrame(
            [(v,) for v in seeds], ["vertex"]
        ).withColumn("p", F.lit(1.0 / len(seeds)))
        base = verts.join(F.broadcast(seed_df), "vertex", "left").select(
            "vertex", F.coalesce(F.col("p"), F.lit(0.0)).alias("p")
        )
    # the teleport vector is re-read every round — pin it once
    base = base.localCheckpoint(eager=True)
    ranks = base.select("vertex", F.col("p").alias("pagerank"))
    for _ in range(n_iter):
        contrib = ed.join(
            ranks, ed.src == ranks.vertex
        ).select(
            F.col("dst"),
            (F.col("pagerank") * F.col("w") / F.col("deg")).alias("c"),
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            base.join(s, base.vertex == s.dst, "left")
            .select(
                "vertex",
                (
                    (F.lit(1.0) - F.lit(damping)) * F.col("p")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pagerank"),
            )
        )
    return ranks


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "v",
    undirected: bool = True,
) -> DataFrame:
    """Multi-source BFS: (vertex, dist) = min #hops from any seed,
    for dist <= max_hops; unreached vertices are absent.

    Frontier expansion, not relaxation: round i joins ONLY the
    vertices first reached at distance i−1 against the edge list,
    anti-joins out everything already settled, and unions the
    remainder in at distance i. Each round is one equi-join + one
    left-anti + one distinct — all shuffles on the vertex key, and
    the frontier SHRINKS as the reachable set saturates (the
    classic Pregel/GraphX BFS shape). The settled set and frontier
    are localCheckpoint-ed per round so round i never re-executes
    rounds 0..i−1 — lineage growth is what kills iterative
    DataFrame jobs at scale, not the per-round cost.

    Distances are exact small integers, so the query layer needs no
    float policy at all; the DuckDB oracle is the textbook bounded
    recursive CTE with MIN(d) GROUP BY v.
    """
    e = _edge_set(edges, src, dst, undirected)
    settled = (
        seeds.select(F.col(seed_col).alias("vertex"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = settled
    for hop in range(1, max_hops + 1):
        # Lazy checkpoints: a fixed hop count needs no per-round job —
        # the caller's action runs every hop in one job, while each
        # checkpoint still cuts the plan so hop i reads hop i−1's blocks.
        nxt = (
            frontier.join(e, frontier["vertex"] == e["src"])
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(settled.select("vertex"), "vertex", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        settled = settled.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return settled


def label_propagation(
    edges: DataFrame,
    n_iter: int = 2,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) for community detection: every vertex starts labeled with
    itself; each round it adopts the most frequent label among its
    neighbors, ties broken toward the SMALLEST label — the
    deterministic tie rule that makes the fixed round count
    reproducible across engines and partitionings (classic LPA's
    random tie-break is not differential-testable).

    Per round: one join (edges ⋈ labels on the source), one
    (dst, label) count aggregation, one per-dst windowed argmax —
    all shuffles keyed on vertices, the same per-round budget as
    connected components / PageRank, checkpointed per round.
    Returns (vertex, community) after exactly ``n_iter`` rounds.
    """
    e = _edge_set(edges, src, dst, undirected)
    labels = (
        e.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("community", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("vertex").orderBy(
        F.desc("n"), F.asc("community")
    )
    for _ in range(n_iter):
        counts = (
            e.join(labels, e["src"] == labels["vertex"])
            .select(F.col("dst").alias("vertex"), "community")
            .groupBy("vertex", "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("vertex", "community")
            # lazy, as in bfs_distances: fixed round count, no probe
            .localCheckpoint(eager=False)
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    canonical: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    vertices with degree < k (and their edges) until a fixpoint.

    Input edges are treated as UNDIRECTED (symmetrized + dedup'd
    here); output is one row per surviving vertex with its degree
    inside the core. Per round: one degree aggregate + two semi-join
    filters, iterated by ``_fixpoint`` with the edge count as probe —
    the edge set only shrinks, so an unchanged count means nothing was
    peeled. Rounds needed ≤ the peel depth + 1 (graph-dependent,
    log-ish on real co-occurrence graphs); raises RuntimeError if
    max_rounds is hit without convergence, so a partial peel never
    masquerades as the core.

    ``canonical=True`` asserts the caller's edges are already
    deduplicated with ``src < dst`` per row — then the symmetrized
    union is distinct BY CONSTRUCTION ((s,d) and (d,s) can't collide
    when s < d, and the two direction sets are disjoint), so the
    full-edge-set ``distinct()`` shuffle is skipped. On the sf0.1
    co-purchase graph (2.4M symmetric edges) that shuffle was the
    dominant cost of the whole query: 5.2s edge build → 2.4s (r6).
    """
    s_col = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    d_col = edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    if canonical:
        # Precondition (caller-asserted): distinct edges with s < d,
        # which also excludes self-loops — violating it detectably
        # inflates degrees (contract-tested).
        e = s_col.unionByName(d_col).localCheckpoint(eager=True)
    else:
        # Self-loop filter AFTER the union: filtering only s_col lets
        # (x,x) re-enter via the reversed d_col side, survive
        # distinct(), and inflate x's degree by 1 (ADVICE r6).
        e = (
            s_col.unionByName(d_col)
            .where(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    def step(e: DataFrame) -> DataFrame:
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("s")
        return e.join(keep, "s", "left_semi").join(
            keep.select(F.col("s").alias("d")), "d", "left_semi"
        )

    core = _fixpoint(e, step, [F.count(F.lit(1))], max_rounds, "kcore")
    return (
        core.groupBy("s")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("s").alias("vertex"), "core_degree")
    )


def bellman_ford(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int = 40,
) -> DataFrame:
    """Single-source (or multi-source) shortest WEIGHTED paths by
    Bellman-Ford relaxation — the weighted upgrade of bfs_distances.

    Treats edges as directed (symmetrize upstream for undirected
    graphs); weights must be non-negative integers for the fixpoint to
    be the true distance. Per round: one dist⋈edges join + a min
    aggregate, iterated by ``_fixpoint`` with (count, Σ dist) as probe
    — the reached set only grows and no dist ever increases, so an
    unchanged pair means no vertex changed. Σ dist is summed as
    decimal(38,0), exact for integer distances; a fractional weight
    type raises TypeError, because a rounded sum could repeat while a
    dist still falls. Converges in ≤ (max shortest-path hop count) + 1
    rounds; raises RuntimeError on non-convergence so a partial
    relaxation can never pass as the answer."""
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w")
    )
    w_type = e.schema["w"].dataType
    if not isinstance(w_type, IntegralType):
        raise TypeError(
            f"bellman_ford: weight column {weight!r} must be integral, "
            f"got {w_type.simpleString()}"
        )
    e = e.localCheckpoint(eager=True)
    dist = (
        e.sparkSession.createDataFrame(
            [(int(v), 0) for v in sources], "vertex long, dist long"
        )
        .localCheckpoint(eager=True)
    )

    def step(dist: DataFrame) -> DataFrame:
        return (
            dist.join(e, dist.vertex == e.s)
            .select(
                F.col("d").alias("vertex"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .unionByName(dist)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )

    return _fixpoint(
        dist,
        step,
        [F.count(F.lit(1)), F.sum(F.col("dist").cast("decimal(38,0)"))],
        max_rounds,
        "bellman_ford",
    )
