"""Distributed connected components — the transitive-closure step a real
dedup pipeline runs after candidate generation (LSH/SimHash/Jaccard pairs
give you *edges*; deduplication needs the *components* so each duplicate
group collapses to one representative).

Algorithm: alternating large-star / small-star edge rewriting (Kiveris
et al.) — O(log² n) alternations with a shrinking edge set, chosen
over min-label propagation by a measured A/B (propagation takes graph-
diameter rounds and reshuffles the full edge list every round; it is
kept as ``connected_components_minlabel``, the differential oracle). ``localCheckpoint`` truncates the lineage so the
plan doesn't grow with iterations.

At 100 TB: candidate edges come from LSH buckets (operators/dedup.py),
never all-pairs; when they come from an inverted-index join instead,
the posting lists must be prefix-filtered (dedup.prefix_postings —
lossless by the PPJoin prefix theorem, unlike an absolute df-cap) or
every document joins every other through ubiquitous tokens.
The per-round shuffle is keyed by node id — AQE handles the skew that a
giant component's hub nodes create (the star rewrite also actively
DRAINS hub skew: each alternation collapses satellites onto the
component min, so a hot key loses its edges as the graph contracts).

The iteration itself is driver-side control flow (a convergence loop),
not driver-side data — each round's data stays distributed; only
counts cross to the driver for the convergence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    damping: float = 0.85,
    max_iter: int = 10,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list — the classic
    link-graph quality signal (the web-scale ancestor of per-document
    quality weighting in corpus builds).

    Per iteration: each node splits its rank across its out-edges (the
    static (edge, out-degree) table is built once and checkpointed), and
    the contributions aggregate on dst (one keyed shuffle — the same
    join+groupBy rendezvous as connected_components). Dangling-node mass
    (no out-edges) redistributes uniformly, riding through the SAME
    aggregate: each dangling node carries one static
    deg=1 pseudo-edge to a NULL dst tagged ``dang=1`` (rank/1 is
    bit-identical to rank), so the (dang=1, NULL) group of the one
    groupBy IS the dangling mass — no separate per-iteration dangling
    aggregate job, and no scalar crosses to the driver during iteration
    (the 1-row dangling slice re-enters the plan as a broadcast).

    Every iteration checkpoints its AGGREGATE (≤ n+1 rows): ranks itself
    is a constant-depth lazy projection over the latest aggregate and
    never needs its own materialization job, so the per-iteration cost
    is exactly one aggregation job at constant plan depth.

    Returns (node, rank) with Σ rank = 1 up to float rounding.
    Deterministic given the graph: the fixpoint doesn't depend on
    partitioning (sums are doubles, so last-bit associativity wiggle
    exists run-to-run — callers needing bit-stable output should round).
    """
    # checkpoint FIRST, count the checkpointed RDD: the count would
    # otherwise execute the (possibly join-built) nodes plan once more
    # just to learn n (measured: q_ml2's node plan is a union over a
    # fact-join edge list — one full extra execution).
    base_nodes = nodes.select(F.col(node_col).alias("node")).localCheckpoint(
        eager=True
    )
    n = base_nodes.count()
    if n == 0:
        return nodes.select(
            F.col(node_col).alias("node"), F.lit(0.0).alias("rank")
        )
    # Rank-side broadcast: the per-iteration
    # join ``ed ⨝ ranks`` otherwise SHUFFLES the static edge table every
    # round to rendezvous with a node-sized ranks table. When the node
    # count fits a broadcast relation comfortably, ship ranks instead:
    # the edge table is then never exchanged after its one checkpoint,
    # and the only per-iteration shuffle is the map-side-combined
    # contribution aggregate (≤ n rows). Decided from n — the already-
    # computed input statistic — not a local-mode constant: ~24 B/row
    # keeps the default cap ≈ 48 MB of build side, far under the 8 GB
    # broadcast limit; larger graphs keep the keyed-shuffle plan.
    if broadcast_ranks is None:
        broadcast_ranks = n <= 2_000_000

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_ranks else df
    # Mass conservation requires every edge endpoint to be a known node:
    # an edge toward an id absent from ``nodes`` would send rank into the
    # void (the final left join drops it) and Σrank would silently decay.
    # Restrict edges to the node set up front — a dropped edge's source
    # then correctly counts as dangling (or keeps its other edges' split).
    known_src = base_nodes.select(F.col("node").alias("src"))
    known_dst = base_nodes.select(F.col("node").alias("dst"))
    kept = edges.join(known_src, "src", "semi").join(known_dst, "dst", "semi")
    deg = kept.groupBy("src").agg(F.count("*").alias("deg"))
    ed = (
        kept.join(deg, "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    # The dangling-mass term rides the SAME per-iteration aggregate as
    # the contributions.
    # Each dangling node (no out-edges) gets one static pseudo-edge with
    # deg=1 toward a NULL dst tagged dang=1: its whole rank then rides
    # through the one ``dedges ⨝ ranks → groupBy`` pass (rank/1 is
    # bit-identical to rank), and the (dang=1, NULL) group IS the
    # dangling mass — no separate per-iteration dang_nodes⨝ranks
    # aggregate job. Grouping by (dang, dst) keeps pseudo-
    # rows out of every real node's aggregate even for a NULL node id.
    dst_t = ed.schema["dst"].dataType
    dang_edges = (
        base_nodes.join(
            ed.select(F.col("src").alias("node")).distinct(), "node", "anti"
        ).select(
            F.col("node").alias("src"),
            F.lit(None).cast(dst_t).alias("dst"),
            F.lit(1).cast("bigint").alias("deg"),
            F.lit(1).alias("dang"),
        )
    )
    dedges = (
        ed.withColumn("dang", F.lit(0))
        .unionAll(dang_edges)
        .localCheckpoint(eager=True)
    )
    # rank(u) as an EXPRESSION over the latest aggregate's two slices
    # (contribution sum s, dangling mass dm) — evaluated inline at the
    # edge join each iteration, so the join's build side is the
    # aggregate slices themselves and no intermediate "ranks" relation
    # is ever materialized or broadcast (a broadcast ranks relation
    # would nest the contribs and dang broadcast builds — three
    # broadcast jobs per iteration where two suffice). Every node appears as a dedges src (non-dangling nodes
    # via their real edges, dangling ones via their pseudo-edge), so
    # evaluating rank at the join covers the whole node set.
    rank_of = (
        F.lit((1.0 - damping) / n)
        + F.lit(damping) * F.col("dm") / F.lit(float(n))
        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
    )
    contribs = None
    dang = None
    for _ in range(max_iter):
        if contribs is None:
            joined = dedges
            rank_expr = F.lit(1.0 / n)
        else:
            joined = dedges.join(
                _b(contribs), dedges["src"] == contribs["node"], "left"
            ).crossJoin(F.broadcast(dang))
            rank_expr = rank_of
        agg = (
            joined.select(
                dedges["dang"].alias("dang"),
                dedges["dst"].alias("dst"),
                (rank_expr / F.col("deg")).alias("c"),
            )
            .groupBy("dang", "dst")
            .agg(F.sum("c").alias("s"))
        )
        # both the next iteration and the final projection read the
        # aggregate, so this one job is the whole per-round
        # materialization cost
        agg = agg.localCheckpoint(eager=True)
        dang = agg.filter(F.col("dang") == 1).agg(
            F.coalesce(F.sum("s"), F.lit(0.0)).alias("dm")
        )
        contribs = agg.filter(F.col("dang") == 0).select(
            F.col("dst").alias("node"), "s"
        )
    if contribs is None:
        return base_nodes.select("node", F.lit(1.0 / n).alias("rank"))
    return (
        base_nodes.join(_b(contribs), "node", "left")
        .crossJoin(F.broadcast(dang))
        .select("node", rank_of.alias("rank"))
    )


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge list → both directions (the propagation joins are
    directional). One PASS over the input via explode — a two-arm union
    would re-execute the upstream plan per arm (Catalyst does not share
    subplans across union branches; the ml3 lesson), which matters when
    the edge list is itself a join result rather than a checkpointed
    scan."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("src"), F.col(dst).alias("dst")
                    ),
                    F.struct(
                        F.col(dst).alias("src"), F.col(src).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``nodes``: one column ``node_col`` (isolated nodes allowed — they
    become singleton clusters). ``edges``: undirected pairs src/dst
    (self-loops tolerated, dropped). Returns (node, label).
    Deterministic: the min-of-component fixpoint is unique regardless
    of partitioning or iteration interleaving.

    Algorithm: alternating large-star / small-star edge rewriting
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    public algorithm). Each alternation contracts the graph toward a
    star forest whose centers are the component minima:

    - **large-star** at u: let m = min(Γ(u) ∪ {u}); rewire every
      STRICTLY LARGER neighbor v > u to (v, m).
    - **small-star** at u over the pointer edges (u → smaller v): let
      m = min of those v; rewire each of them, and u itself, to m.

    Converges in O(log² n) alternations on any graph — versus
    graph-diameter rounds for plain min-label propagation — and the
    edge set SHRINKS toward one pointer per non-root node as it runs,
    so later rounds shuffle less data, where propagation reshuffles
    the full edge list every round. Measured on the d6 near-dup graph
    at sf0.1 (5k nodes / 191k symmetric edges, bench session, AQE on):
    4 alternations / 5.4 s vs 11 rounds / 6.7 s for propagation
    (:func:`connected_components_minlabel`, kept as the differential
    baseline), and a propagation+pointer-jump hybrid measured between
    the two (6.2 s) — the star rewrite won on both rounds and time.
    At 100 TB the gap widens: diameter is unbounded in adversarial
    components (chains from transitive near-dup edges), log² n is not.

    Each alternation is two keyed shuffles (groupBy min + rewrite
    join) plus a distinct; convergence is detected STRUCTURALLY on the
    current edge set — the composite's fixpoints are exactly the
    symmetric star forests centered at component minima, and "star
    forest" is one predicate over the per-node (min-neighbor, degree)
    aggregate the large-star step already computes — so no trailing
    no-op alternation or exceptAll pass is needed. A non-converged exit
    raises rather than returning wrong star centers — propagation's
    partial labels degrade soft, a partial star forest does not.
    """
    base_nodes = nodes.select(F.col(node_col).alias("node"))
    e = (
        symmetrize(edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Convergence test: the fixpoints of the large-star/small-star composite are exactly the
    # symmetric star forests centered at component minima (Kiveris et
    # al.), and "e is a star forest" is checkable STRUCTURALLY on the
    # current edge set: every node either has all-larger neighbors (a
    # center) or exactly one neighbor, which is smaller (a satellite).
    # [Adjacent centers are impossible: the larger endpoint would have a
    # smaller neighbor, making it a satellite; a satellite with degree
    # ≥ 2 or a smaller second neighbor violates the criterion.] The
    # per-node (min(dst), count) aggregate the test needs is the SAME
    # aggregate the large-star step consumes, so one checkpointed
    # groupBy serves both — whereas a bottom-of-loop set-equality test
    # (count + exceptAll) can only detect the fixpoint by paying one
    # full extra NO-OP alternation to reproduce e, plus an exceptAll
    # pass over both sets (d6 at sf0.1: 3 alternations instead of 4); soundness both ways: a star forest is provably
    # invariant under both rewrites (see the check in
    # tests/test_graph_ops.py pinning star-vs-minlabel agreement), and
    # a non-star-forest is changed by the composite, so the loop can
    # never stop early or spin on a converged set.
    converged = False
    alternations = 0
    while True:
        # large-star: min over the full neighborhood, larger neighbors
        # rewired to it; symmetry of `e` makes one groupBy see Γ(u).
        # Checkpointed: it feeds the convergence test AND the rewrite
        # join (two consumers), and it is node-sized.
        mins = (
            e.groupBy("src")
            .agg(F.min("dst").alias("mn"), F.count("*").alias("_d"))
            .localCheckpoint(eager=True)
        )
        # star-forest violation: a node with a smaller neighbor AND
        # more than one neighbor (empty edge set ⇒ 0 rows ⇒ converged).
        # isEmpty (take-1) short-circuits at the first violation — on
        # non-converged rounds the check stops as soon as one partition
        # of the checkpointed aggregate yields a row.
        if mins.filter(
            (F.col("mn") < F.col("src")) & (F.col("_d") > 1)
        ).isEmpty():
            converged = True
            break
        if alternations >= max_iter:
            break
        m = mins.select("src", F.least("src", "mn").alias("m"))
        ls = (
            e.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # every large-star row is strictly src > dst by construction
        # (v > u ≥ m = min(Γ(u) ∪ {u})), so the pointer set the
        # small-star step needs is ls itself — the old symmetrize +
        # distinct + filter(src > dst) round-trip exploded ls to 2×
        # rows only to throw the mirrored half away. Duplicates in ls
        # (the same (v, m) reached via different large-star sources)
        # are harmless: min() ignores them and the final
        # symmetrize+distinct below dedups the output set — while
        # SKIPPING the eager dedup here removes its (src,dst)-keyed
        # exchange entirely, and the m2 aggregate + the ss join then
        # share ONE src-keyed exchange of ls (ReusedExchange).
        d = ls
        m2 = d.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            d.join(m2, "src")
            .select(F.col("dst").alias("v"), F.col("m"))
            .union(m2.select(F.col("src").alias("v"), F.col("m")))
        )
        e2 = (
            ss.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        e = symmetrize(e2).distinct().localCheckpoint(eager=True)
        alternations += 1
    if not converged:
        raise RuntimeError(
            f"connected_components: star rewriting did not converge in "
            f"{max_iter} alternations (O(log^2 n) expected; this graph "
            "would need ~2^sqrt(max_iter) nodes) — raise max_iter"
        )
    # the converged mins aggregate (checkpointed above) already holds
    # the star structure: satellites are exactly its mn < src rows and
    # their label IS mn — no need to re-aggregate the edge set (one
    # groupBy shuffle saved)
    ptr = mins.filter(F.col("mn") < F.col("src")).select(
        "src", F.col("mn").alias("label")
    )
    return base_nodes.join(ptr, base_nodes["node"] == ptr["src"], "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
    )


def connected_components_minlabel(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Iterative min-label propagation — the diameter-round baseline
    :func:`connected_components` replaced (kept as its differential
    oracle, the d2 full-vs-fast pattern: two independent formulations
    of one fixpoint must agree on every graph). Each round: every node
    takes the min of its own and its neighbors' labels; rounds = graph
    diameter; ``localCheckpoint`` truncates lineage so plan depth stays
    bounded. The fixpoint is the same unique min-of-component labeling.
    """
    sym = symmetrize(edges).localCheckpoint(eager=True)
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nb_label"))
        )
        proposed = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
        ).localCheckpoint(eager=True)
        changed = proposed.filter(F.col("label") != F.col("old_label")).count()
        labels = proposed.select("node", "label")
        if changed == 0:
            break
    return labels


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_edges: bool = True,
) -> DataFrame:
    """Per-node triangle participation counts — exact, via the
    degree-ordered node-iterator (the "compact-forward" algorithm):
    orient every undirected edge from its (degree, id)-smaller endpoint
    to the larger, enumerate wedges at each source, close them against
    the oriented edge list.

    Orientation is THE scale lever: out-degree under (degree, id) order
    is bounded by O(√m) on any graph, so the wedge self-join fans out to
    Σ C(outdeg,2) = O(m^1.5) candidates worst-case — versus a hub node of
    degree d contributing C(d,2) wedges unoriented. The closing probe is
    an equi-join on the (lo, hi) edge key; every shuffle is keyed and
    partial-aggregated. Returns (node, n_triangles) for nodes in ≥1
    triangle; each triangle credits all three corners.

    Input may contain duplicates or both directions; it is canonicalized
    to distinct undirected (lo, hi) pairs first, and that canonical edge
    list is materialized ONCE (``localCheckpoint``) — it feeds the degree
    table, the orientation, and the closing probe, and without the
    truncation Catalyst re-derives the whole upstream edge construction
    (for ml3, the order-pair explosion) once per consumer.

    ``broadcast_edges=True`` (default) broadcasts the degree table and
    the closing-probe side: wedges — the one candidate-scale dataset —
    are then generated AND closed map-side without ever shuffling (1.7×
    end-to-end on the sf0.1 co-purchase graph: 41M wedges, 1.2M edges).
    Right whenever the EDGE LIST fits executor memory (item-similarity /
    co-purchase graphs are vocabulary-sized even when the fact table is
    100 TB); for a billion-edge social graph pass False and the same
    plan degrades to keyed shuffle joins — identical result, proven by
    the driver hash gate either way.

    An array-adjacency edge-iterator variant (per-edge
    ``array_intersect`` over broadcast neighbor lists, no wedge rows at
    all) was measured 1.7× SLOWER than this wedge join at sf0.1 — the
    per-edge hash-set build costs more than Tungsten's join probe on
    this wedge/edge ratio — and is deliberately not used.
    """
    maybe_b = F.broadcast if broadcast_edges else (lambda df: df)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        # d_lo and d_hi are two separate broadcast builds — serial
        # jobs — and each would re-run this union+groupBy over the full
        # edge list; node-count-sized rows
        .localCheckpoint(eager=True)
    )
    d_lo = maybe_b(
        deg.select(F.col("node").alias("lo"), F.col("deg").alias("deg_lo"))
    )
    d_hi = maybe_b(
        deg.select(F.col("node").alias("hi"), F.col("deg").alias("deg_hi"))
    )
    # orient u→v iff (deg(u), u) < (deg(v), v)
    # The oriented edge list feeds the wedge stream side AND the
    # broadcast wedge side below — two separate executions (the
    # broadcast build is its own job), each re-running the two degree
    # joins over the full edge list. One eager
    # truncation (edge-sized, same working set as `und`) halves that.
    oriented = (
        und.join(d_lo, "lo").join(d_hi, "hi")
        .select(
            F.when(
                (F.col("deg_lo") < F.col("deg_hi"))
                | ((F.col("deg_lo") == F.col("deg_hi"))
                   & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
            ).otherwise(
                F.struct(F.col("hi").alias("u"), F.col("lo").alias("v"))
            ).alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=True)
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("a"))
    # broadcasting one wedge side removes the plan's LAST shuffle: with
    # the degree table and closing probe already broadcast, wedges are
    # now generated AND closed map-side end-to-end (measured a further
    # ~15% at sf0.1)
    e2 = maybe_b(oriented.select(F.col("u"), F.col("v").alias("b")))
    wedges = e1.join(e2, "u").filter(F.col("a") < F.col("b"))
    # the closing undirected edge (a,b) with a<b is exactly a row of `und`
    tri = wedges.join(
        maybe_b(und),
        (F.col("a") == F.col("lo")) & (F.col("b") == F.col("hi")),
    ).select("u", "a", "b")
    # credit all three corners in ONE pass over the closed triangles: a
    # 3-arm unionAll over `tri` re-executes the wedge join per arm
    # (Catalyst does not share subplans across union branches — measured
    # 3x the closing-join cost at sf0.1, ~14 s vs ~7 s end-to-end); the
    # explode is a map-side expansion of an already-joined row
    corners = tri.select(
        F.explode(F.array("u", "a", "b")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
