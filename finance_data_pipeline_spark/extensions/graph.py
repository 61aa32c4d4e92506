"""Vertex programs over entity graphs (SURVEY.md §2.11 extension):
PageRank and personalized PageRank, triangle counts, k-core peeling,
label propagation and connected components. Pairs become directed
edges through one row-local symmetrization (_symmetric), and every
per-round edge ⋈ vertex-vector join goes through one broadcast gate
(_vector_join).

PageRank is the corpus-curation centrality signal: web-scale pretraining
pipelines rank hosts/pages by link centrality to drive crawl frontiers
and quality priors (the classic web-graph quality prior). The operator
here is a pure INTEGER fixed-point PageRank — every iteration is
integer arithmetic only, so the result is a pure function of the edge
set and the whole iterative computation replays bit-exactly in a SQL
oracle (same family of tricks as the fixed-point Lloyd trainer in
extensions/similarity.py and the connected-components oracle).

Reference parity: no native analogue — corpus-hygiene extension beyond
the reference's per-table pipeline (fetch_and_store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions.dedup import _spread


# Rounds between lineage-cutting localCheckpoints in the lazily chained
# iterative operators (pagerank, label_propagation): the default round
# counts never reach it, and iters ≫ 6 still cannot stack deep plans.
_CHECKPOINT_EVERY = 6

# Bytes per row of a per-round vertex vector (node, value) as Spark's
# planner sizes it: an 8-byte row header plus two longs. _vector_join's
# broadcast gate compares N rows of it against
# spark.sql.autoBroadcastJoinThreshold.
_VECTOR_ROW_BYTES = 24


def _symmetric(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(src, dst) in both orientations of every (a, b) row of
    ``pairs``. Row-local: one explode of a two-struct array reads the
    upstream pipeline once, where a two-branch union would evaluate it
    twice past its reused exchanges; the row multiset is the union's."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _vector_join(
    frame: DataFrame, vec: DataFrame, on: str, n_nodes: int, how: str = "inner"
) -> DataFrame:
    """``frame`` joined to a per-round vertex vector ``vec`` of at most
    ``n_nodes`` rows — the one join every vertex loop runs per round.

    Broadcast gate: ``vec`` is broadcast when n_nodes ×
    _VECTOR_ROW_BYTES fits the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (-1 turns it off) — at the
    10 MB default that is up to ~437,000 nodes. Then the round moves
    only the vertex vector and ``frame`` (the materialized edge list,
    or the N-row node frame) stays where it is (the Pregel/GraphX
    rule). Above the threshold the same plan runs the planner's own
    join, which shuffles ``frame`` every round."""
    conf = frame.sparkSession._jsparkSession.sessionState().conf()
    if n_nodes * _VECTOR_ROW_BYTES <= conf.autoBroadcastJoinThreshold():
        vec = F.broadcast(vec)
    return frame.join(vec, on, how)


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration integer PageRank over directed (src, dst) long
    edges: personalized_pagerank with every node a seed. Returns (node,
    rank_scaled, pagerank) where rank_scaled is the exact integer state
    (rank ≈ rank_scaled / scale)."""
    return personalized_pagerank(edges, None, iters, damping_pct, scale, src, dst)


def triangles(pairs: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Per-node triangle counts over an undirected pair graph — the
    triadic-closure diagnostic (cliquish clusters vs chained ones) for
    the near-dup graph, and the standard distributed triangle-count
    shape for any entity graph.

    Classic degree-orientation optimization (node-iterator++): each
    undirected edge is directed from the lower (degree, id) endpoint
    to the higher, so every triangle {x,y,z} taken in orientation
    order has edges x→y, x→z, y→z and is found EXACTLY once by the
    wedge join (x→y)⋈(x→z) matched against the oriented edge y→z.
    Out-degrees under this orientation are O(√m) on arbitrary graphs,
    so the wedge stream is bounded by Σ outdeg² ≤ m^1.5 — the reason
    this formulation scales where the naive 3-way edge join does not.

    Returns (node, n_triangles) for nodes in at least one triangle.

    Materialization seams: the symmetrized pair set and the oriented
    edge frame are localCheckpoint()ed — ``sym`` is consumed twice (the
    degrees and the orientation join) and ``e`` three times (both wedge
    sides plus the closing join), and without the seams Catalyst
    re-derives the ENTIRE upstream pipeline (e.g. the MinHash/LSH
    near-dup cascade) once per reference: the static plan for
    dup_triangles was 265 shuffles before, ~10 after. The edge list of
    a similarity graph is orders of magnitude smaller than the corpus
    it came from, so materializing it is the same safe trade pagerank()
    and the fixed-point Lloyd trainer make.
    """
    sym = _symmetric(pairs.select(a, b).distinct(), a, b).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    # orient by (degree, id): u→v iff (d_u, u) < (d_v, v)
    e = (
        sym.join(deg, "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dv")), "dst"
        )
        .filter(
            (F.col("d") < F.col("dv"))
            | ((F.col("d") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"), "d", "dv")
        .localCheckpoint()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    e2 = e.select(F.col("u").alias("x"), F.col("v").alias("z"), F.col("dv").alias("dz"))
    wedges = (
        e1.join(e2, "x")
        .filter(
            (F.col("dy") < F.col("dz"))
            | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
        )
        .select("x", "y", "z")
    )
    tri = wedges.join(
        e.select(F.col("u").alias("y"), F.col("v").alias("z")), ["y", "z"]
    )
    per_node = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def kcore(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 4,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """Bounded k-core peel over an undirected pair graph: ``rounds``
    iterations of "drop every node with degree < k, and every edge
    touching a dropped node". Returns (node, core_degree) for
    survivors — on the near-dup graph this separates dense duplicate
    cores (template farms, mirror sets: every member similar to many
    others) from incidental chains that triadic closure alone
    over-merges.

    A FIXED round count instead of a convergence test keeps the
    operator a pure function of the edge set, so the whole peel
    replays exactly in a SQL oracle (the same determinism contract as
    pagerank's fixed iterations and the Lloyd trainer); peeling
    removes at least one node per non-converged round inside any
    finite component, and the semantics tests assert the default has
    converged on the test graphs. The symmetrized edge list and every
    round's survivors are localCheckpoint()ed, so degrees and the edge
    filter are re-aggregated from the materialized edge list (tiny next
    to the corpus), never re-derived through the upstream pipeline (the
    dup_triangles lesson).
    """
    edges = _symmetric(pairs.select(a, b).distinct(), a, b).localCheckpoint()
    for _ in range(rounds):
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        edges = (
            edges.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .localCheckpoint()
        )
    return edges.groupBy("src").agg(
        F.count("*").cast("long").alias("core_degree")
    ).select(F.col("src").alias("node"), "core_degree")


def label_propagation(
    pairs: DataFrame,
    rounds: int = 3,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """Synchronous frequency label propagation over an undirected pair
    graph — community detection that, unlike connected components
    (connected_components: min-label flood = one community per
    component), splits a component along its dense regions: each node
    repeatedly adopts the label held by the MOST of its neighbors. On
    the near-dup graph this separates two template farms that a single
    bridge pair glues into one connected component — the distinction a
    curation pipeline needs before per-cluster representative picking.

    Determinism contract (the registry parity rules): synchronous
    updates from labels(t) only, a FIXED round count, and ties broken
    by the smallest label — the labeling is a pure function of the
    edge set, so the whole computation replays round-for-round in a
    SQL oracle (fixed-iteration family: pagerank, kcore, Lloyd). The
    node's own label is not in the vote (pure neighbor majority);
    every node in a pair graph has degree ≥ 1, so the argmax is
    always defined.

    Scale shape per round: the N-row label vector is joined to the
    edge list on the neighbor endpoint through _vector_join (broadcast
    while it fits the gate, so the edge list stays put), then one
    map-side-combined (node, label) count and one per-node window whose
    partition size is bounded by the node's degree — never by graph
    size. The symmetrized edge list and the initial label vector are
    localCheckpoint()ed once up front, so `rounds` iterations re-read a
    materialized frame instead of re-deriving the upstream near-dup
    cascade per round (the dup_triangles lesson), and N is one count of
    the checkpointed labels. Rounds CHAIN LAZILY — each round references
    the previous label vector exactly once, so the former per-round
    eager localCheckpoint (one blocking job per round) is pure overhead
    (pagerank's r9 lesson, guide §2.4/§1.2); a localCheckpoint every
    _CHECKPOINT_EVERY rounds bounds lineage for rounds ≫ the default.

    Returns (node, community) for every node in the pair graph.
    """
    sym = _spread(_symmetric(pairs, a, b)).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    n_nodes = labels.count()
    for i in range(rounds):
        votes = (
            _vector_join(
                sym, labels.select(F.col("node").alias("dst"), "lbl"), "dst", n_nodes
            )
            .select(F.col("src").alias("node"), "lbl")
            .groupBy("node", "lbl")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
        labels = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "lbl")
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < rounds:
            labels = labels.localCheckpoint()
    return labels.select("node", F.col("lbl").alias("community"))


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected (id_a, id_b) pair graph
    by min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until fixpoint. Converges in
    O(diameter) rounds — near-dup clusters are shallow (dense cliques
    chained by a few bridges), so a handful of rounds suffice;
    ``max_iter`` bounds adversarial chains.

    Scale shape per round: the N-row label vector is joined to the
    materialized edge list through _vector_join (broadcast while it
    fits the gate, so the edges stay put), and ONE min-aggregate per
    node yields both the new label and the old one — the union carries
    each node's own label, so the min of the own-label rows is the
    label it held. The round's frame is localCheckpoint()ed (cutting
    the iterative lineage; at cluster scale, use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
    fault-tolerant truncation), and the driver decides convergence from
    a filter on it — no second join against the previous labels. N is
    one count of the checkpointed initial labels. For graphs with huge
    components the O(log n)-round connected_components_star drops in
    with the same (id, label) contract.

    Returns (doc_id, cluster_id) for every node appearing in ``pairs``,
    cluster_id = min doc_id of the component. Raises ValueError when
    ``max_iter`` rounds end before a fixpoint (the labels would be a
    partial propagation, not components).
    """
    edges = _symmetric(pairs, "id_a", "id_b").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    n_nodes = labels.count()
    for _ in range(max_iter):
        nbr = _vector_join(
            edges, labels.select(F.col("id").alias("dst"), "label"), "dst", n_nodes
        ).select(F.col("src").alias("id"), "label", F.lit(False).alias("_own"))
        step = (
            nbr.unionByName(labels.withColumn("_own", F.lit(True)))
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        labels = step.select("id", "label")
        if step.filter(F.col("label") != F.col("_old")).isEmpty():
            break
    else:
        raise ValueError(
            f"connected_components: labels still changing after max_iter={max_iter}"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the O(log n)-round algorithm for graphs with HUGE
    components, where min-label propagation's O(diameter) rounds are
    the bottleneck. Same contract as connected_components:
    (doc_id, cluster_id = component min) for every node in ``pairs``.

    Per round (all bounded-key shuffles):
      large-star: every node links its strictly-larger neighbors to
        the minimum of its closed neighborhood;
      small-star: every node links its smaller-or-equal neighbors
        (and itself) to that minimum.
    Each phase strictly lowers edge endpoints toward component minima;
    at fixpoint the edge set IS the star {(root, v)}. Convergence is
    detected by an order-independent edge-set fingerprint (sum of
    per-edge hashes + count) — one tiny aggregate per round. Raises
    ValueError when ``max_iter`` rounds end before that fixpoint.
    """
    E = (
        pairs.select(
            F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def fingerprint(edges: DataFrame):
        row = edges.agg(
            F.count("*").alias("n"),
            # decimal sum: long hashes overflow an ANSI bigint sum
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def star(edges: DataFrame, large: bool) -> DataFrame:
        nbrs = _symmetric(edges, "a", "b")
        mins = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
        joined = nbrs.join(mins, "src")
        cond = (F.col("dst") > F.col("src")) if large else (F.col("dst") <= F.col("src"))
        emitted = joined.filter(cond).select(F.col("dst").alias("x"), F.col("m"))
        if not large:
            emitted = emitted.unionAll(mins.select(F.col("src").alias("x"), F.col("m")))
        return (
            emitted.filter(F.col("x") != F.col("m"))
            .select(F.least("x", "m").alias("a"), F.greatest("x", "m").alias("b"))
            .distinct()
        )

    fp = fingerprint(E)
    for _ in range(max_iter):
        E = star(E, large=True).localCheckpoint(eager=True)
        E = star(E, large=False).localCheckpoint(eager=True)
        new_fp = fingerprint(E)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise ValueError(
            f"connected_components_star: edges still changing after max_iter={max_iter}"
        )
    # At fixpoint every edge is (root, member); roots label themselves.
    members = E.select(F.col("b").alias("doc_id"), F.col("a").alias("cluster_id"))
    roots = E.select(F.col("a").alias("doc_id"), F.col("a").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (the topic-sensitive variant, Haveliwala
    2002) over directed (src, dst) long edges: teleport mass returns
    ONLY to the seed set, so ranks measure proximity to the seeds
    rather than global centrality — the "more like these" expansion
    primitive (seed domains → related domains; seed customers → similar
    customers). ``seeds=None`` makes every node a seed, which is plain
    PageRank (pagerank() above). Returns (node, rank_scaled, pagerank)
    where rank_scaled is the exact integer state (rank ≈ rank_scaled /
    scale).

    The update is the textbook r' = teleport + d·Σ r(u)/outdeg(u), but
    every division is integer floor division and the damping factor is
    a percentage — ``r' = teleport + (damping_pct · Σ (r(u) div
    deg(u))) div 100`` with ``teleport = ((100-damping_pct)·scale div
    100) div S`` on the S seeds (0 elsewhere) — so partial-aggregation
    order cannot perturb a single bit (long addition is associative; a
    float formulation differs between engines in last-ulp bits that
    compound across iterations) and the whole iteration replays
    bit-exactly in an unrolled SQL oracle. Initial rank: scale div S on
    seeds, 0 elsewhere. Dangling mass is dropped (nodes without
    out-edges redistribute nothing — the standard simplification; with
    symmetrized edges every node has outdeg ≥ 1 and no mass is lost).

    ``seeds`` is a one-column (node) frame; it is intersected with the
    graph's node set and counted once on the driver. With seeds=None,
    S is the node count N and no seed join is built.

    Scale shape per iteration: the edges stay put and only the vertex
    vector moves (the Pregel/GraphX rule). Each round divides on the
    N-row vector — ``q = r div deg`` per node with out-degree > 0, the
    integer each of that node's out-edges contributes — joins it to
    the materialized edge list on src, sums the contributions
    into dst (map-side combined) and left-joins the at most N sums back
    onto the nodes. Both joins go through _vector_join, so while N fits
    its broadcast gate no round shuffles the edge list or the node
    frame; above the gate both run the planner's shuffle join. Rounds
    CHAIN LAZILY — each round references the previous
    rank vector exactly once, so the plan grows linearly, and running
    all rounds as ONE job lets the scheduler pipeline stages instead
    of paying a blocking materialization barrier per round (guide
    §2.4/§1.2 — the former per-round localCheckpoint cost one eager
    job each: measured 5.6 s → 3.1 s for the 5-round bench query). A
    localCheckpoint every _CHECKPOINT_EVERY rounds cuts lineage for
    iters ≫ 5 (connected_components' discipline). The only
    driver-side values are N and S (one count each; one count when
    seeds=None) and the constant teleport — no rank data ever
    collects.

    Overflow headroom: Σ contribs ≤ N·scale and the damping multiply
    stays < 2^63 while N·scale·damping_pct < 9.2e18 — at scale=1e9
    that is ~10⁸ nodes; shrink ``scale`` for larger graphs.
    """
    # The edge list is materialized ONCE up front (guide §1.2 — don't
    # compute things twice): nd and the seed set are eager
    # localCheckpoints downstream of it and every round joins it
    # again, and without this seam each re-derived the whole upstream
    # edge pipeline (for the supplier↔customer graph that is the
    # lineitem⋈orders distinct join) in its own job. Edges are two
    # longs per row, so materializing them is a safe trade.
    ed = _spread(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint()
    # Fused node-set + out-degree pass (guide §2.4): each edge emits
    # its endpoints row-locally (src tagged 1, dst tagged 0) and ONE
    # map-side-combined groupBy yields both the distinct node set and
    # every node's out-degree, instead of a union+distinct for the
    # nodes and a separate groupBy for the degrees.
    nd = (
        ed.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(1).alias("_o")),
                    F.struct(F.col("dst").alias("node"), F.lit(0).alias("_o")),
                )
            ).alias("_n")
        )
        .select("_n.node", "_n._o")
        .groupBy("node")
        .agg(F.sum("_o").cast("long").alias("deg"))
        .localCheckpoint()
    )
    n_nodes = nd.count()
    if seeds is None:
        base = nd
        n_seeds = n_nodes

        def on_seeds(x: int) -> F.Column:
            return F.lit(x)

    else:
        seed_nodes = (
            nd.select("node")
            .join(seeds.select(F.col(seeds.columns[0]).alias("node")), "node")
            .select("node")
            .localCheckpoint()
        )
        n_seeds = seed_nodes.count()
        base = nd.join(
            seed_nodes.withColumn("_is_seed", F.lit(True)), "node", "left"
        ).select(
            "node", "deg", F.coalesce("_is_seed", F.lit(False)).alias("_is_seed")
        )

        def on_seeds(x: int) -> F.Column:
            return F.when(F.col("_is_seed"), F.lit(x)).otherwise(F.lit(0))

    if n_seeds == 0:
        return nd.select(
            "node",
            F.lit(0).cast("long").alias("rank_scaled"),
            F.lit(0.0).alias("pagerank"),
        )
    if seeds is not None:
        base = base.localCheckpoint()
    teleport = ((100 - damping_pct) * scale // 100) // n_seeds

    ranks = base.select(
        "node", "deg", on_seeds(scale // n_seeds).cast("long").alias("r")
    )
    for i in range(iters):
        # Sinks (deg 0) send nothing — and r div 0 raises under ANSI.
        vec = ranks.filter(F.col("deg") > 0).select(
            F.col("node").alias("src"), F.expr("r div deg").alias("q")
        )
        sums = (
            _vector_join(ed, vec, "src", n_nodes)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("q").alias("s"))
        )
        ranks = _vector_join(base, sums, "node", n_nodes, "left").select(
            "node",
            "deg",
            (
                on_seeds(teleport)
                + F.expr(
                    f"({damping_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100"
                )
            )
            .cast("long")
            .alias("r"),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r") / F.lit(float(scale))).alias("pagerank"),
    )
