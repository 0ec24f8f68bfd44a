"""Graph analytics over edge frames — the algorithm layer a user of a
graph database expects next to pathfinding (the reference ships no
GDS-style library; these are extensions, like streaming).

Operators take a plain (src, dst) edge DataFrame — the compiler's edge
scans, a label snapshot, or any relational projection — so they compose
with both the Cypher layer and raw tables. All of them are expressed as
joins + aggregates (Catalyst-optimizable, AQE-broadcastable); pagerank
truncates its lineage every 6 rounds so user-supplied iteration counts
stay bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agensgraph_spark.pipeline.dedup import _driver_edges, _driver_label_frame


def degree_stats(
    edges: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex (out_deg, in_deg). ``vertices`` (single ``id``
    column) widens the universe so isolated vertices report zeros.
    Two narrow aggregates + one outer join; at scale the shuffles
    carry (id, count) rows only."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    base = out_d.join(in_d, "id", "full")
    if vertices is not None:
        base = vertices.select("id").distinct().join(base, "id", "left")
    return base.select(
        "id",
        F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"))


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank: pr = (1-d) + d * sum(pr_src/out_deg)
    over incoming edges (the classic un-normalized formulation;
    dangling vertices simply stop contributing — documented
    simplification, same one most SQL formulations make). A fixed
    ``iters`` makes the result a deterministic closed-form join chain,
    so an external SQL oracle can replay it exactly; per iteration one
    (id, contribution) shuffle + one join — the edge relation itself
    is never re-shuffled when AQE broadcasts the (narrow) rank frame.
    Returns (id, pr double).

    Lineage guard: the plan doubles per iteration (pr feeds both the
    contribution join and the rank update), so every 6th round the rank
    frame is localCheckpoint-truncated — the same generational
    discipline as the path operators (operators/paths.py) and
    connected_components. Short runs (iters <= 6, including the
    oracle-replayed default of 3) never checkpoint, keeping their plan
    a pure closed-form join chain."""
    # r14: verts and the degree-annotated edge relation are shared by
    # every iteration (and verts additionally by each rank update) —
    # lazy localCheckpoint rewrites each to ONE LogicalRDD computed at
    # the first action instead of re-inlining the scan+join subtree
    # once per reference (same truncation as harmonic_sampled; no
    # extra job, values unchanged)
    verts = vertices.select("id").distinct().localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("_deg"))
    # (src, dst, src out-degree): static across iterations
    ed = (edges.join(deg.withColumnRenamed("id", "src"), "src")
          .localCheckpoint(eager=False))
    pr = verts.select("id", F.lit(1.0).alias("pr"))
    for i in range(iters):
        contrib = (ed.join(pr.withColumnRenamed("id", "src"), "src")
                   .groupBy(F.col("dst").alias("id"))
                   .agg(F.sum(F.col("pr") / F.col("_deg")).alias("_c")))
        pr = (verts.join(contrib, "id", "left")
              .select("id",
                      (F.lit(1.0 - damping)
                       + F.lit(damping) * F.coalesce("_c", F.lit(0.0))).alias("pr")))
        if (i + 1) % 6 == 0 and (i + 1) < iters:
            pr = pr.localCheckpoint()
    return pr


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Synchronous label-propagation communities over the undirected
    edge frame: every round each vertex adopts the MODAL label among
    its neighbors (count DESC, then smallest label — fully
    deterministic, so a fixed ``iters`` is replayable as chained SQL
    CTEs, like pagerank); isolated vertices keep their own label.
    Per round one (neighbor, label) equi-join + a grouped count + a
    per-vertex top-1 window — all narrow rows; lineage truncated every
    6 rounds like the sibling iterative operators. The symmetrized
    edge relation is referenced EVERY round, so it is lazily
    localCheckpoint-truncated once (one LogicalRDD, computed at first
    action) instead of re-inlining its union+distinct subtree per
    round (the r14 shared-subtree discipline from pagerank/harmonic).
    Returns (id, community)."""
    from pyspark.sql import Window
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .distinct().localCheckpoint(eager=False))
    verts = vertices.select("id").distinct()
    lab = verts.select("id", F.col("id").alias("label"))
    for i in range(iters):
        freq = (sym.join(lab.select(F.col("id").alias("src"), "label"), "src")
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("n")))
        w = Window.partitionBy("id").orderBy(F.col("n").desc(),
                                             F.col("label").asc())
        modal = (freq.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .select("id", F.col("label").alias("_m")))
        lab = (lab.join(modal, "id", "left")
               .select("id", F.coalesce("_m", "label").alias("label")))
        if (i + 1) % 6 == 0 and (i + 1) < iters:
            lab = lab.localCheckpoint()
    return lab.select("id", F.col("label").alias("community"))


def _oriented_triangles(und: DataFrame) -> DataFrame:
    """Each triangle of a canonical undirected edge frame (a < b,
    distinct, no self-loops) exactly once, as (p, q1, q2).
    Degree-oriented enumeration — every edge points from its
    lower-(degree, id) endpoint to the higher one, so each triangle is
    found once from its lowest-degree corner and the wedge join fans
    out by the SMALLER per-vertex degree (the classic bound that keeps
    power-law hubs from going quadratic; plain id-ordering would
    enumerate a hub's full neighborhood square)."""
    deg = (und.select(F.col("a").alias("v"))
           .unionByName(und.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    ranked = (und
              .join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
              .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b"))
    fwd = ranked.select(
        F.when((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
               F.struct(F.col("a").alias("u"), F.col("b").alias("w")))
         .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
         .alias("e")).select("e.u", "e.w")
    e1 = fwd.select(F.col("u").alias("p"), F.col("w").alias("q1"))
    e2 = fwd.select(F.col("u").alias("p"), F.col("w").alias("q2"))
    wedge = e1.join(e2, "p").filter(F.col("q1") < F.col("q2"))
    return wedge.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        (F.least("q1", "q2") == F.col("x")) & (F.greatest("q1", "q2") == F.col("y"))) \
        .select("p", "q1", "q2")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation over an undirected edge frame
    (``src``/``dst``, duplicates/self-loops tolerated); see
    `_oriented_triangles` for the degree-oriented enumeration bound.
    Returns (id, n_triangles), zero rows omitted."""
    # und feeds the degree aggregate (both sides), the rank join and
    # the wedge-closure join — 4 references; lazy localCheckpoint
    # truncates it to ONE LogicalRDD computed at first action (k_truss
    # already checkpoints its per-round edge set for the same reason)
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct()
           .localCheckpoint(eager=False))
    tri = _oriented_triangles(und)
    corners = F.explode(F.array("p", "q1", "q2")).alias("id")
    return tri.select(corners).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_triangles"))


# Largest peel, as a share of the surviving edges, for which k_truss
# recomputes support incrementally instead of re-enumerating every
# triangle (0 forces the full enumeration on every peel). Read at call
# time so tests can flip it.
_INCREMENTAL_PEEL = 0.005


def k_truss(
    edges: DataFrame,
    k: int = 4,
    max_iters: int = 50,
) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph in which every edge
    sits in at least ``k - 2`` triangles OF THE SUBGRAPH — the
    edge-support sibling of `k_core` (cohesion by shared neighbors,
    not mere degree: a hub-and-spoke star survives a high k-core but
    has no truss at all). Classic peel fixpoint: per round, count each
    surviving edge's triangles, drop edges below support k-2, repeat
    until the edge set stops changing. Converges in at most |E|
    rounds, in practice a handful; the surviving edge/support frames
    are localCheckpoint-truncated per generation and every shuffle
    carries narrow (id, id) or (edge, count) rows. Aggregation inside
    the loop puts this outside recursive-CTE SQL, but a FIXED round
    count replays it (idempotent at the fixpoint) — same oracle
    strategy as k_core. Hitting ``max_iters`` before the fixpoint
    WARNS like k_core (the partial result is a valid superset of the
    truss). Returns (src, dst, support) with src < dst, support
    counted in the final surviving subgraph.

    Support maintenance is two-regime (r15, guide §1.2/§2 — measured
    at sf0.1: from the third peel on every round removed <0.2% of edges
    yet re-paid the FULL degree-oriented wedge enumeration, ~5.5 s of
    the 49 s total per round; at a 2% peel the affected set is already
    large enough that the full enumeration wins, hence the 0.5%
    ``_INCREMENTAL_PEEL``): when a peel removes at most that share of
    the surviving edges, only AFFECTED edges — those sharing a
    triangle of the pre-peel graph with a removed edge — can change
    support (a triangle of an unaffected edge contains no removed
    edge, so it survives verbatim), and their
    new support is recomputed EXACTLY by a bounded common-neighbor
    join seeded from the removed set. Larger peels (and round 1) run
    the full enumeration. Same values either way — the fixpoint and
    the final supports are properties of the graph, pinned by the
    incremental-vs-full differential test."""
    import logging
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct()
           .localCheckpoint())
    n_before = und.count()

    def full_support(cur: DataFrame) -> DataFrame:
        tri = _oriented_triangles(cur)
        tri_edges = tri.select(
            F.explode(F.array(
                F.struct(F.least("p", "q1").alias("a"),
                         F.greatest("p", "q1").alias("b")),
                F.struct(F.least("p", "q2").alias("a"),
                         F.greatest("p", "q2").alias("b")),
                F.struct(F.least("q1", "q2").alias("a"),
                         F.greatest("q1", "q2").alias("b")))).alias("e")) \
            .select("e.a", "e.b")
        agg = tri_edges.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support"))
        return (cur.join(agg, ["a", "b"], "left")
                .select("a", "b",
                        F.coalesce("support", F.lit(0)).alias("support")))

    def _adj(cur: DataFrame) -> DataFrame:
        return (cur.select(F.col("a").alias("v"), F.col("b").alias("w"))
                .unionByName(cur.select(F.col("b").alias("v"),
                                        F.col("a").alias("w"))))

    def _common_neighbor_support(cand: DataFrame, cand_hinted: DataFrame,
                                 cur: DataFrame) -> DataFrame:
        """Exact support of each ``cand`` edge (a, b) in the graph
        ``cur``: count of c adjacent to both endpoints. Work is
        bounded by sum of deg(a) over candidates — the candidate set
        is peel-sized, never corpus-sized (the caller broadcast-hints
        it when its exact count is driver-known small; checkpointed
        inputs otherwise carry no size estimate and the planner falls
        back to shuffling the full edge set on every round). The hinted
        copy drives the fan join only: on the preserved side of the
        final left join Spark would drop the hint with a warning."""
        fan = cand_hinted.join(_adj(cur).withColumnRenamed("v", "a"), "a") \
                  .select("a", "b", F.col("w").alias("c")) \
                  .filter(F.col("c") != F.col("b")) \
                  .localCheckpoint(eager=False)
        # the wedge fan (|cand| x deg) drives the closure join: its
        # exact count is one cheap map-only job, and a driver-known
        # small fan broadcast turns the closure from a full-edge-set
        # sort-merge (measured 1.5-1.9 s per round at sf0.1 even for a
        # 10-edge candidate set — checkpointed inputs carry no size
        # estimate) into a map-only hash probe of the edge frame
        fan = _maybe_bcast(fan, fan.count())
        closed = fan.join(
            cur.select(F.col("a").alias("x"), F.col("b").alias("y")),
            (F.least("b", "c") == F.col("x"))
            & (F.greatest("b", "c") == F.col("y")))
        counted = closed.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support"))
        return (cand.join(counted, ["a", "b"], "left")
                .select("a", "b",
                        F.coalesce("support", F.lit(0)).alias("support")))

    # broadcast the peel-sized frames only when their EXACT row count
    # is driver-known under this bound (~32 MB of long pairs) — a
    # fraction-gated regime alone could still hand a corpus-scale
    # removed set to a broadcast at 100 TB
    bcast_bound = 2_000_000

    def _maybe_bcast(df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= bcast_bound else df

    supp = full_support(und).localCheckpoint(eager=False)
    for _ in range(max_iters):
        # keep is a plain filter over the supp checkpoint — giving it
        # its own checkpoint would pay one extra stage materialization
        # per round (an AQE plan's RDD construction executes its
        # non-result stages eagerly)
        keep = supp.filter(F.col("support") >= k - 2)
        n_after = keep.count()
        if n_after == n_before or n_after == 0:
            return keep.select(F.col("a").alias("src"),
                               F.col("b").alias("dst"), "support")
        n_removed = n_before - n_after
        removed = _maybe_bcast(
            supp.filter(F.col("support") < k - 2).select("a", "b"),
            n_removed)
        cur = keep.select("a", "b")
        if n_removed > _INCREMENTAL_PEEL * n_before:
            supp = full_support(cur).localCheckpoint(eager=False)
        else:
            # triangles of the PRE-peel graph that contain a removed
            # edge mark every edge whose support can have changed
            fan_r = removed.join(_adj(und).withColumnRenamed("v", "a"),
                                 "a") \
                .select("a", "b", F.col("w").alias("c")) \
                .filter(F.col("c") != F.col("b")) \
                .localCheckpoint(eager=False)
            # same driver-known-size broadcast as the support fan
            fan_r = _maybe_bcast(fan_r, fan_r.count())
            tri_r = fan_r.join(und.select(F.col("a").alias("x"),
                                          F.col("b").alias("y")),
                               (F.least("b", "c") == F.col("x"))
                               & (F.greatest("b", "c") == F.col("y")))
            affected = (tri_r.select(F.least("a", "c").alias("a"),
                                     F.greatest("a", "c").alias("b"))
                        .unionByName(
                            tri_r.select(F.least("b", "c").alias("a"),
                                         F.greatest("b", "c").alias("b")))
                        .distinct()
                        # survivors only: removed edges need no support
                        .join(cur, ["a", "b"], "left_semi")
                        .localCheckpoint(eager=False))
            aff_hinted = _maybe_bcast(affected, affected.count())
            supp_aff = _common_neighbor_support(affected, aff_hinted, cur)
            supp = (keep.join(aff_hinted, ["a", "b"], "left_anti")
                    .unionByName(supp_aff)
                    .localCheckpoint(eager=False))
        und = cur
        n_before = n_after
    logging.getLogger(__name__).warning(
        "k_truss: max_iters=%d reached before fixpoint — the result is "
        "a superset of the true %d-truss", max_iters, k)
    return supp.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                       "support")


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_iters: int = 100,
) -> DataFrame:
    """Vertices of the k-core: iteratively peel vertices whose degree
    in the SURVIVING subgraph is below ``k`` until stable (the classic
    fixpoint; converges in at most |V| rounds, in practice a handful —
    each peel removes the entire sub-threshold frontier at once).
    Input edges are undirected (src/dst, self-loops ignored). Per
    round one degree aggregate + two semi-joins over narrow (long,
    long) rows; the surviving edge set is localCheckpoint-truncated
    per generation like the other iterative operators. Aggregation
    inside recursion puts this outside recursive-CTE SQL — verified by
    a pure-Python peel replay (tests/test_pipeline_scale.py).
    Returns (id, degree) of the k-core members."""
    import logging
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst"))
           .distinct()
           .localCheckpoint())
    # one count job per round: the previous round's n_after IS this
    # round's n_before — the initial count is the only extra job
    n_before = sym.count()
    for i in range(max_iters):
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.filter(F.col("_d") >= k).select("src")
        nxt = (sym.join(keep, "src", "left_semi")
               .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
               .select("src", "dst")
               .localCheckpoint(eager=False))
        n_after = nxt.count()
        sym = nxt
        if n_after == n_before or n_after == 0:
            break
        n_before = n_after
    else:
        logging.getLogger(__name__).warning(
            "k_core: max_iters=%d reached before fixpoint", max_iters)
    return (sym.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("degree")))


def histogram(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-width histogram, optionally per group: one hash aggregate
    over (by..., bin) keys — the shuffle carries bin-count rows, never
    values. Returns (by..., bin_start double, n long)."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    b = F.floor(F.col(value_col).cast("double") / F.lit(float(bin_width)))
    return (df.filter(F.col(value_col).isNotNull())
            .groupBy(*[F.col(c) for c in by],
                     (b * F.lit(float(bin_width))).alias("bin_start"))
            .agg(F.count(F.lit(1)).alias("n")))


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg): per round the authority score
    is the sum of in-neighbor hub scores and the hub score the sum of
    out-neighbor NEW authority scores, each vector normalized by its
    MAXIMUM (the infinity-norm variant of the classic algorithm). Max
    normalization is chosen deliberately over the L1/L2 norms: max()
    over doubles is a comparison, not an accumulation, so the
    normalizer is bit-identical across engines and summation orders —
    which keeps a fixed ``iters`` replayable as chained SQL CTEs the
    way pagerank's recurrence is (workload.py `_hits_oracle`).

    Per round: two (id, score) shuffles for the neighborhood sums and
    two single-row aggregates for the norms (Catalyst broadcasts the
    scalar back — no data-sized shuffle). The edge relation is never
    re-shuffled; AQE broadcasts the narrow score frame. Lineage is
    truncated with a lazy localCheckpoint EVERY round — each round's
    frame feeds four consumers, so the sibling operators' every-6
    cadence would let the plan grow ~5.5x per round (see the loop
    comment). Returns (id, authority double, hub double).
    """
    if iters < 1:
        raise ValueError(f"hits needs at least 1 iteration, got {iters}")
    # verts and the edge relation are each referenced TWICE per round
    # (auth sum + hub sum / their left joins): lazy localCheckpoint
    # rewrites both to ONE LogicalRDD computed at first action instead
    # of 2*iters re-inlined scan subtrees (r14 shared-subtree
    # discipline, same as pagerank/harmonic)
    verts = vertices.select("id").distinct().localCheckpoint(eager=False)
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    hub = verts.select("id", F.lit(1.0).alias("hub"))
    auth = None
    for i in range(iters):
        a_sum = (e.join(hub.withColumnRenamed("id", "src"), "src")
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.sum("hub").alias("_a")))
        auth = (verts.join(a_sum, "id", "left")
                .select("id", F.coalesce("_a", F.lit(0.0)).alias("auth")))
        a_max = auth.agg(F.max("auth").alias("_m"))
        auth = (auth.crossJoin(F.broadcast(a_max))
                .select("id", F.when(F.col("_m") > 0,
                                     F.col("auth") / F.col("_m"))
                        .otherwise(F.lit(0.0)).alias("auth")))
        h_sum = (e.join(auth.withColumnRenamed("id", "dst"), "dst")
                 .groupBy(F.col("src").alias("id"))
                 .agg(F.sum("auth").alias("_h")))
        hub = (verts.join(h_sum, "id", "left")
               .select("id", F.coalesce("_h", F.lit(0.0)).alias("hub")))
        h_max = hub.agg(F.max("hub").alias("_m"))
        hub = (hub.crossJoin(F.broadcast(h_max))
               .select("id", F.when(F.col("_m") > 0,
                                    F.col("hub") / F.col("_m"))
                       .otherwise(F.lit(0.0)).alias("hub")))
        if (i + 1) < iters:
            # each round's frame feeds FOUR consumers (two neighborhood
            # sums + two scalar norms), so the un-truncated plan grows
            # ~5.5x PER ROUND (measured: 10 KB -> 14 MB from iters=1 to
            # 5) — the sibling operators' every-6-rounds cadence is far
            # too late here. A lazy localCheckpoint truncates the plan
            # immediately without scheduling an extra job.
            hub = hub.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return (auth.withColumnRenamed("auth", "authority")
            .join(hub, "id"))


def _seed_set(sources: DataFrame, verts: DataFrame,
              op: str) -> tuple[DataFrame, DataFrame]:
    """(srcs, ns) for a seeded operator: ``srcs`` is the distinct
    ``sources`` ids present in ``verts`` (an out-of-graph seed can
    never be reached, so counting it would skew |S|), lazily
    localCheckpointed — every caller reads it twice (its seed rows
    and |S|); ``ns`` is a one-row ``_ns`` frame holding |S| as a
    double. An empty seed set refuses IN the plan (raise_error on the
    |S| aggregate, naming ``op``) rather than through a plan-time count
    job, which re-ran the distinct+semi-join subplan on every call —
    ~0.4 s of pure overhead — while the in-plan raise still fails the
    run loudly at first action."""
    srcs = (sources.select("id").distinct()
            .join(verts, "id", "left_semi")
            .localCheckpoint(eager=False))
    ns = srcs.agg(F.count(F.lit(1)).cast("double").alias("_ns0")) \
        .select(F.when(
            F.col("_ns0") == 0,
            F.raise_error(F.lit(
                f"{op}: no source id is present in vertices (the seed "
                "set is empty)")).cast("double"))
            .otherwise(F.col("_ns0")).alias("_ns"))
    return srcs, ns


def personalized_pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration personalized PageRank: the (1-d) restart mass
    lands only on the ``sources`` set (uniformly, 1/|S| each) instead
    of every vertex — the topic-sensitive variant (Haveliwala 2002).
    pr0 = restart; pr_{k+1} = (1-d)*restart + d * sum(pr_src/out_deg).
    Dangling mass simply decays, the same documented simplification as
    ``pagerank``. |S| is folded in declaratively (single-row count
    aggregate broadcast back), so the whole run is one closed-form
    join chain an external SQL oracle replays exactly.

    Per iteration one (id, contribution) shuffle + one join; the
    restart frame is narrow and broadcast. Lineage truncated every 6
    rounds. Returns (id, ppr double).

    ``sources`` ids absent from ``vertices`` are dropped BEFORE |S| is
    counted: an out-of-graph seed can never receive restart mass, so
    counting it would silently shrink the total restart mass to
    |S∩V|/|S| and diverge from any oracle that derives seeds from the
    vertex set. All-out-of-graph (or empty) sources refuse loudly."""
    verts = vertices.select("id").distinct()
    srcs, ns = _seed_set(sources, verts, "personalized_pagerank")
    # restart (with its |S| raise-guard subplan) and the
    # degree-annotated edge relation are referenced every iteration:
    # lazy localCheckpoint truncates each to ONE LogicalRDD computed
    # at first action instead of re-inlining the distinct+semi-join+
    # guard and scan+degree-join subtrees per round (the r14
    # shared-subtree discipline pagerank already applies)
    restart = (verts
               .join(srcs.withColumn("_is_src", F.lit(1)), "id", "left")
               .crossJoin(F.broadcast(ns))
               .select("id", F.when(F.col("_is_src").isNotNull(),
                                    F.lit(1.0) / F.col("_ns"))
                       .otherwise(F.lit(0.0)).alias("restart"))
               .localCheckpoint(eager=False))
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("_deg"))
    ed = edges.join(deg.withColumnRenamed("id", "src"), "src") \
        .localCheckpoint(eager=False)
    pr = restart.select("id", F.col("restart").alias("ppr"))
    for i in range(iters):
        contrib = (ed.join(pr.withColumnRenamed("id", "src")
                           .withColumnRenamed("ppr", "_p"), "src")
                   .groupBy(F.col("dst").alias("id"))
                   .agg(F.sum(F.col("_p") / F.col("_deg")).alias("_c")))
        pr = (restart.join(contrib, "id", "left")
              .select("id",
                      (F.lit(1.0 - damping) * F.col("restart")
                       + F.lit(damping) * F.coalesce("_c", F.lit(0.0))
                       ).alias("ppr")))
        if (i + 1) % 6 == 0 and (i + 1) < iters:
            pr = pr.localCheckpoint()
    return pr


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 3,
    salt: str = "w",
) -> DataFrame:
    """Deterministic graph walks, one per ``starts`` row: at each step
    the walker at ``cur`` moves to the out-neighbor minimizing
    md5(salt:walk_id:step:dst) — a hash-seeded stand-in for the
    uniform-random choice of node2vec/DeepWalk corpus generation.
    Determinism is the point: the same (graph, starts, salt) always
    yields the same walks, so sampled-walk corpora are reproducible
    across runs AND the fixed-step recurrence replays as chained SQL
    CTEs for external verification (workload.py `_walks_oracle`).
    A walker with no out-edge stays put (the walk simply ends early).

    Per step one frontier-sized join + a per-walk top-1 window — the
    frontier is one narrow row per walk regardless of graph size, and
    the candidate fan-out is bounded by out-degree. Ties on the hash
    (cryptographically negligible) break by dst. Returns
    (walk_id, final, path, path_ids): ``path`` '->'-joined for
    human/SQL-oracle consumption, ``path_ids`` a typed array of the
    raw vertex ids so downstream corpus generation (node2vec-style
    sequence emission) never re-parses ids from text."""
    from pyspark.sql import Window
    # the edge relation is re-joined every step: lazy localCheckpoint
    # truncates it to ONE LogicalRDD computed at first action instead
    # of `steps` re-inlined scans (r14 shared-subtree discipline)
    hop = edges.select(F.col("src").alias("cur"), "dst") \
        .localCheckpoint(eager=False)
    w = starts.select(F.col("id").alias("walk_id"),
                      F.col("id").alias("cur"),
                      F.col("id").cast("string").alias("path"),
                      F.array(F.col("id")).alias("path_ids"))
    for s in range(steps):
        cand = (w.join(hop, "cur", "left")
                .withColumn("_h", F.md5(F.concat_ws(
                    ":", F.lit(salt), F.col("walk_id"),
                    F.lit(str(s)), F.col("dst")))))
        win = Window.partitionBy("walk_id").orderBy(
            F.col("_h").asc(), F.col("dst").asc())
        moved = F.col("dst").isNotNull()
        w = (cand.withColumn("_rn", F.row_number().over(win))
             .filter(F.col("_rn") == 1)
             .select("walk_id",
                     F.coalesce("dst", "cur").alias("cur"),
                     F.when(moved,
                            F.concat(F.col("path"), F.lit("->"), F.col("dst")))
                     .otherwise(F.col("path")).alias("path"),
                     F.when(moved,
                            F.concat(F.col("path_ids"), F.array(F.col("dst"))))
                     .otherwise(F.col("path_ids")).alias("path_ids")))
        if (s + 1) % 6 == 0 and (s + 1) < steps:
            w = w.localCheckpoint()
    return w.select("walk_id", F.col("cur").alias("final"), "path",
                    "path_ids")


def harmonic_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Bounded-neighborhood harmonic centrality over the undirected
    graph: sum of 1/d(u, v) over vertices v within ``max_hops`` of u
    (the Boldi-Vigna harmonic variant of closeness — well-defined on
    disconnected graphs because unreachable vertices contribute 0).
    The bound is explicit and MANDATORY (no default), same contract as
    ngram_jaccard_pairs' scope: the pair state is one (u, v) row per
    vertex pair within the radius, so on a dense graph even hop 2 can
    be |V| x (cluster size) — e.g. this repo's supplier hierarchy at
    sf10 reaches 4e8 pairs at radius 2. The caller picks the radius
    and therefore the state budget; a fixed ``max_hops`` also keeps
    the run replayable as chained SQL CTEs.

    Per hop: one frontier-edge join + one anti-join against the seen
    set + a distinct — all on narrow id-pair rows, the same
    generational discipline as the VLE/BFS operators. The symmetrized
    edge relation and vertex universe are referenced every hop /
    twice, so both are lazily localCheckpoint-truncated once (ONE
    LogicalRDD each, computed at first action — the r14
    shared-subtree discipline harmonic_centrality_sampled measured at
    68-scans-to-0). Returns
    (id, n_reached long, harmonic double) for every vertex (zeros for
    isolated ones)."""
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst"))
           .distinct().localCheckpoint(eager=False))
    verts = vertices.select("id").distinct().localCheckpoint(eager=False)
    dist = verts.select(F.col("id").alias("u"), F.col("id").alias("v"),
                        F.lit(0).alias("d"))
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (frontier
               .join(sym.withColumnRenamed("src", "v"), "v")
               .select("u", F.col("dst").alias("v"), F.lit(h).alias("d"))
               .distinct()
               .join(dist, ["u", "v"], "left_anti"))
        if h < max_hops:
            # each frontier feeds the union AND the next expansion AND
            # the next anti-join: un-truncated, the plan grows ~3x per
            # hop (measured 2.4 KB -> 74 KB from hop 1 to 4). Lazy
            # localCheckpoint keeps it linear with no extra job.
            nxt = nxt.localCheckpoint(eager=False)
        dist = dist.unionByName(nxt)
        frontier = nxt
    reached = (dist.filter(F.col("d") > 0)
               .groupBy(F.col("u").alias("id"))
               .agg(F.count(F.lit(1)).alias("n_reached"),
                    F.sum(F.lit(1.0) / F.col("d")).alias("harmonic")))
    return (verts.join(reached, "id", "left")
            .select("id",
                    F.coalesce("n_reached", F.lit(0)).cast("long")
                    .alias("n_reached"),
                    F.coalesce("harmonic", F.lit(0.0)).alias("harmonic")))


def harmonic_centrality_sampled(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Sampled-source harmonic centrality — the Eppstein-Wang estimator
    shape: BFS over the undirected graph from the ``sources`` seed set
    only, then scale each vertex's observed sum of 1/d by |V|/|S|.
    With S drawn uniformly from V the estimate is unbiased for the
    (radius-bounded) harmonic score: E[1/d(s,u)] over uniform s is
    (1/|V|) * sum_v 1/d(v,u). This is the scale-safe configuration on
    DENSE graphs, where the exhaustive operator's all-source pair state
    (|V| x reach — 4e8 pairs at radius 2 on this repo's sf10 hierarchy)
    is the caller's budget: here the state is |S| x reach, chosen by
    the seed budget instead of the vertex count, while ``max_hops``
    stays explicit and MANDATORY (same contract as the exhaustive
    form). Determinism is the caller's: pass a fixed seed frame (e.g.
    an md5-prefix keyed_sample of the vertices) and the run — and its
    chained-CTE SQL oracle — reproduces exactly.

    ``sources`` ids absent from ``vertices`` are dropped before |S| is
    counted (they could only deflate the scale factor); an empty
    intersection refuses loudly. Returns (id, n_sampled long,
    harmonic_est double) for every vertex — n_sampled is the RAW count
    of seeds that reached the vertex (the estimator's support, useful
    for confidence filtering), harmonic_est the scaled estimate."""
    # r14: the shared subtrees (symmetrized edges, vertex universe,
    # seed semi-join) are lazily truncated too — each is referenced by
    # every hop (sym) or by two consumers (verts: universe + |V|;
    # srcs: level 0 + |S|), and un-truncated they re-inline their
    # union/distinct trees per reference (the harmonic plan carried 68
    # parquet scans; driver-side analysis alone cost ~1.1s per build).
    # Lazy localCheckpoint rewrites each to ONE LogicalRDD computed
    # once at the first action — no extra job, same values.
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst"))
           .distinct()
           .localCheckpoint(eager=False))
    verts = vertices.select("id").distinct().localCheckpoint(eager=False)
    srcs, ns = _seed_set(sources, verts, "harmonic_centrality_sampled")
    dist = srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                       F.lit(0).alias("d"))
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (frontier
               .join(sym.withColumnRenamed("src", "v"), "v")
               .select("s", F.col("dst").alias("v"), F.lit(h).alias("d"))
               .distinct()
               .join(dist, ["s", "v"], "left_anti"))
        if h < max_hops:
            # same per-hop lazy truncation as the exhaustive form: the
            # frontier feeds union + expansion + anti-join every hop
            nxt = nxt.localCheckpoint(eager=False)
        dist = dist.unionByName(nxt)
        frontier = nxt
    # |V| and |S| folded declaratively (two single-row aggregates,
    # broadcast back) so the whole run replays as chained SQL CTEs
    stats = (verts.agg(F.count(F.lit(1)).cast("double").alias("_n"))
             .crossJoin(ns))
    reached = (dist.filter(F.col("d") > 0)
               .groupBy(F.col("v").alias("id"))
               .agg(F.count(F.lit(1)).alias("n_sampled"),
                    F.sum(F.lit(1.0) / F.col("d")).alias("_h")))
    return (verts.join(reached, "id", "left")
            .crossJoin(F.broadcast(stats))
            .select("id",
                    F.coalesce("n_sampled", F.lit(0)).cast("long")
                    .alias("n_sampled"),
                    (F.coalesce("_h", F.lit(0.0)) * F.col("_n")
                     / F.col("_ns")).alias("harmonic_est")))


def _min_reach_labels_fb(
    edges: DataFrame,
    vertices: DataFrame,
    max_iters: int = 300,
) -> DataFrame:
    """LOCKSTEP forward/backward min-reach fixpoint: one loop computes
    both f(v) = min({v} | {f(u) : u->v}) (minimum id that REACHES v)
    and b(v) = min({v} | {b(w) : v->w}) (minimum id REACHABLE from v).
    The two recurrences are independent, so advancing them in the same
    round converges each to exactly the fixpoint the sequential
    variant produced — but the loop runs max(d_f, d_b) rounds instead
    of d_f + d_b, with ONE convergence-count job per round instead of
    two, and the (id, f, b) frame comes back already joined (the old
    per-round f-join-b step is gone). At tiny-per-round graph sizes
    the cost is round-count x scheduler overhead, so halving the
    round/job count halves the phase (r14 opt session 2: graph_scc
    31.9s -> see OPTIMIZATION_r14.md).

    Each round lazily localCheckpoints so the convergence count
    materializes the generation in one job and the plan stays
    constant-size.

    Deliberately NO pointer-jump doubling (unlike
    pipeline/dedup.connected_components): jumping here means
    self-joining the label frame keyed on the LABEL VALUE, and as
    labels converge a giant SCC concentrates tens of thousands of
    rows on ONE key — measured on the sf1 part-transition graph
    (54k active vertices), the jump variant's constant-shape
    13-job iteration degraded 0.4s -> 300s near convergence while
    the plain variant stays flat at ~0.4s/round and finishes the
    whole fixpoint in ~23s (49 rounds vs 23). Fewer rounds lose to
    pathological rounds; diameter-bound rounds on narrow (id, id)
    rows are the shape that scales. (Batching several label-steps
    per convergence count was ALSO measured and lost — the deeper
    per-job plan costs more than the saved count jobs. Lockstep f/b
    is NOT that: the per-round plan is two independent shallow
    join-agg branches, not a deeper chain.)

    Returns (id, f, b)."""
    lab = vertices.select("id", F.col("id").alias("f"),
                          F.col("id").alias("b")).localCheckpoint()
    for _ in range(max_iters):
        nf = (edges
              .join(lab.select(F.col("id").alias("src"),
                               F.col("f").alias("_lf")), "src")
              .groupBy(F.col("dst").alias("id"))
              .agg(F.min("_lf").alias("_mf")))
        nb = (edges
              .join(lab.select(F.col("id").alias("dst"),
                               F.col("b").alias("_lb")), "dst")
              .groupBy(F.col("src").alias("id"))
              .agg(F.min("_lb").alias("_mb")))
        new = (lab.join(nf, "id", "left").join(nb, "id", "left")
               .select("id",
                       F.col("f").alias("_of"), F.col("b").alias("_ob"),
                       F.least("f", "_mf").alias("f"),
                       F.least("b", "_mb").alias("b"))
               .localCheckpoint(eager=False))
        changed = new.filter((F.col("f") != F.col("_of"))
                             | (F.col("b") != F.col("_ob"))).count()
        lab = new.select("id", "f", "b")
        if changed == 0:
            return lab
    raise RuntimeError(
        "strongly_connected_components: min-label propagation did not "
        f"converge within max_iters={max_iters} rounds — the graph's "
        "diameter exceeds the budget; raise max_iters")


def _tarjan_scc(edge_rows) -> dict:
    """Iterative Tarjan over a driver-local edge list. Returns
    {vertex: component} with component = the minimum member id of the
    vertex's SCC — exactly the labeling the distributed path produces,
    independent of traversal order (the label is a property of the
    component, not of the DFS). Duplicate and self-loop edges are
    harmless."""
    adj: dict = {}
    nodes: set = set()
    for s, d in edge_rows:
        nodes.add(s)
        nodes.add(d)
        adj.setdefault(s, []).append(d)
    index: dict = {}
    low: dict = {}
    on: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on.add(v)
            descended = False
            nbrs = adj.get(v, ())
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    work[-1] = (v, pi)
                    work.append((w, 0))
                    descended = True
                    break
                if w in on:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if descended:
                continue
            # v's neighborhood is exhausted: close v's SCC if v is a
            # root, then propagate lowlink to the parent
            if low[v] == index[v]:
                scc = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                m = min(scc)
                for w in scc:
                    comp[w] = m
            work.pop()
            if work:
                u, upi = work[-1]
                if low[v] < low[u]:
                    low[u] = low[v]
    return comp


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 30,
    max_iters: int = 300,
) -> DataFrame:
    """Strongly connected components of a directed edge frame:
    (id, component) with component = the minimum member id of the SCC
    — the directed sibling of connected_components, and the missing
    member of the analytics family (reference users run SCC via
    client-side graph libraries over Cypher edge dumps; here it is a
    first-class distributed operator).

    Trim + forward/backward min-label rounds (the FW-BW-Trim family,
    Orzan-style): each round first PEELS trivial SCCs — any active
    vertex with no in-edges or no out-edges in the active subgraph
    cannot sit on a cycle, and removing it can only expose more, so
    the trim loop runs to fixpoint (a DAG dissolves entirely here,
    two semi-joins per peel, no propagation at all) — then computes
    f(v) = min id reaching v and b(v) = min id reachable from v
    (one LOCKSTEP `_min_reach_labels_fb` fixpoint — both recurrences
    advance in the same round, so the phase runs max(d_f, d_b) rounds
    with one convergence job each instead of d_f + d_b rounds with
    two, and f/b come back pre-joined). f and b are constant on an
    SCC, and f(v) == b(v) == m
    holds exactly when m is a mutual reacher, i.e. m is the SCC's own
    minimum and no smaller id sits strictly upstream or downstream —
    so every settled vertex gets its true final label, whole SCCs
    settle at once (always including the one containing the smallest
    active id), and settled SCCs leave the active set. Residual SCCs
    survive intact, so each round sees a valid sub-problem.

    Scale shape: every step is a narrow (id, id) equi-join or
    aggregate; the active vertex/edge frames shrink monotonically and
    are localCheckpoint-truncated per round, so the plan never grows.
    Worst case is a condensation chain ordered adversarially against
    the ids (one SCC settles per round, like every min-pivot FW-BW
    variant); hitting ``max_rounds`` raises loudly — a partial SCC
    labeling, unlike a partial WCC one, would be silently wrong.

    ``vertices`` (single ``id`` column) widens the universe; isolated
    vertices come back as singleton components. Self-loops are fine
    (a vertex whose only edge is a self-loop is its own SCC).

    Scale shape (two regimes, picked by the raw edge count — the same
    split `connected_components` uses): cyclic cores are SPARSE at
    corpus scale, and the trim+settle loop's cost on a small graph is
    pure round-count x scheduler overhead. When the raw edge list fits
    the driver (``dedup._DRIVER_MAX_EDGES``, ~1.5 MB of longs), one
    iterative Tarjan pass over the collected edges
    labels every endpoint (duplicates/self-loops are harmless, and
    the min-member label is a property of the component, so the
    labeling is traversal-order-independent and exactly matches the
    distributed path) and broadcast-joins back onto the (arbitrarily
    large, distributed) vertex universe — two jobs total instead of
    O(rounds) count jobs. Above the threshold the FW-BW-Trim loop
    below takes over (the differential test pins both regimes against
    each other). The gate is `dedup._driver_edges`, the bounded
    probe+fetch `connected_components` uses too."""
    raw = edges.select("src", "dst")
    local = _driver_edges(raw)
    if local is not None:
        comp = _tarjan_scc((r["src"], r["dst"]) for r in local)
        return _driver_label_frame(
            edges.sparkSession, sorted(comp.items()),
            raw.schema["src"].dataType,
            None if vertices is None else vertices.select("id"))
    e = raw.distinct()
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))))
    if vertices is not None:
        verts = verts.unionByName(vertices.select("id"))
    act_v = verts.distinct().localCheckpoint()
    act_e = e.localCheckpoint()
    parts: list[DataFrame] = []
    n_act = act_v.count()
    for _ in range(max_rounds):
        if n_act == 0:
            break
        # trim loop: peel vertices that lack an in- or out-edge in the
        # ACTIVE subgraph (cannot be on a cycle -> singleton SCCs)
        while True:
            srcs = act_e.select(F.col("src").alias("id")).distinct()
            dsts = act_e.select(F.col("dst").alias("id")).distinct()
            triv = (act_v.join(srcs, "id", "left_anti")
                    .unionByName(act_v.join(dsts, "id", "left_anti"))
                    .distinct()
                    .localCheckpoint(eager=False))
            n_triv = triv.count()
            if n_triv == 0:
                break
            parts.append(triv.select("id", F.col("id").alias("component")))
            # lazy generations: the NEXT iteration's triv count (or the
            # settle phase's first job) materializes both in one job —
            # eager checkpoints here cost two extra jobs per peel
            act_v = (act_v.join(triv, "id", "left_anti")
                     .localCheckpoint(eager=False))
            act_e = (act_e
                     .join(act_v.withColumnRenamed("id", "src"),
                           "src", "left_semi")
                     .join(act_v.withColumnRenamed("id", "dst"),
                           "dst", "left_semi")
                     .select("src", "dst").localCheckpoint(eager=False))
            n_act -= n_triv
        if n_act == 0:
            break
        # lockstep fixpoint: (id, f, b) in one loop — the convergence
        # counts AND the old per-round f⋈b join collapse into it
        fb = (_min_reach_labels_fb(act_e, act_v, max_iters)
              .select("id", F.col("f").alias("_f"), F.col("b").alias("_b")))
        settled = fb.filter(F.col("_f") == F.col("_b"))
        parts.append(settled.select("id", F.col("_f").alias("component"))
                     .localCheckpoint(eager=False))
        act_v = (fb.filter(F.col("_f") != F.col("_b"))
                 .select("id").localCheckpoint(eager=False))
        n_act = act_v.count()   # materializes fb + act_v in one job
        act_e = (act_e
                 .join(act_v.withColumnRenamed("id", "src"), "src", "left_semi")
                 .join(act_v.withColumnRenamed("id", "dst"), "dst", "left_semi")
                 .select("src", "dst").localCheckpoint(eager=False))
    if n_act != 0:
        raise RuntimeError(
            "strongly_connected_components: active vertices remain after "
            f"max_rounds={max_rounds} settle rounds — the condensation's "
            "min-ordering depth exceeds the budget; raise max_rounds")
    if not parts:  # empty graph: no edges and no (or empty) vertices
        return verts.select("id", F.col("id").alias("component"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def betweenness_centrality_sampled(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Brandes-Pich sampled betweenness centrality over the undirected
    symmetrized edge frame, radius-bounded: dependency accumulation
    runs only over shortest paths of length <= ``max_hops`` from a
    FIXED seed set (pass a deterministic frame — e.g. a keyed sample —
    and the run plus its chained-CTE SQL oracle replay exactly).
    Estimator: bc(v) = (|V| / |S|) * sum over seeds s != v of
    delta_s(v), the classic sampled-pivot scale-up; like every pivot
    method it counts each unordered pair from both endpoints when both
    land in the seed set, so against exhaustive undirected Brandes the
    full-seed configuration reads 2x (document, don't silently halve).

    Two bounded passes, both |S| x reach state like
    harmonic_centrality_sampled: FORWARD, a multi-source BFS carrying
    sigma (shortest-path counts — per hop one frontier-edge join, one
    (seed, vertex) sum aggregate, one anti-join against the seen set);
    BACKWARD, Brandes' dependency recurrence delta(v) = sum over
    successors w on the shortest-path DAG of sigma(v)/sigma(w) *
    (1 + delta(w)), one level per hop from the rim inward — the DAG is
    never materialized, each level re-derives its edges by joining
    level-h vertices to level-h+1 via the symmetric edge frame. With
    max_hops fixed the whole run is a closed-form join chain (no
    data-dependent iteration), so an external SQL oracle can replay it
    exactly. Radius truncation means k-betweenness (paths longer than
    ``max_hops`` contribute nothing) — the same explicit
    bounded-radius contract as the harmonic operators.

    Seeds absent from ``vertices`` are dropped before |S| is counted;
    an empty intersection raises in-plan at first action (raise_error
    riding the |S| aggregate, like personalized_pagerank). Returns
    (id, bc_est double) for every vertex."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    # sym is joined once per forward hop AND once per backward level,
    # verts/srcs feed the seed levels and the |V|/|S| scale factors:
    # lazy localCheckpoint truncates each shared subtree to ONE
    # LogicalRDD computed at first action (the r14 shared-subtree
    # discipline measured on harmonic_centrality_sampled)
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst"))
           .distinct().localCheckpoint(eager=False))
    verts = vertices.select("id").distinct().localCheckpoint(eager=False)
    srcs, ns = _seed_set(sources, verts, "betweenness_centrality_sampled")
    levels = [srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                          F.lit(1.0).alias("sigma"))]
    seen = levels[0].select("s", "v")
    for h in range(1, max_hops + 1):
        cand = (levels[-1]
                .join(sym.withColumnRenamed("src", "v"), "v")
                .groupBy("s", F.col("dst").alias("v"))
                .agg(F.sum("sigma").alias("sigma")))
        nxt = cand.join(seen, ["s", "v"], "left_anti")
        if h < max_hops:
            nxt = nxt.localCheckpoint(eager=False)
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("s", "v"))
    # backward dependency accumulation, rim inward; delta at the rim
    # level is 0 by definition (no deeper shortest paths through it)
    deltas = [None] * (max_hops + 1)
    deltas[max_hops] = levels[max_hops].select(
        "s", "v", "sigma", F.lit(0.0).alias("delta"))
    for h in range(max_hops - 1, -1, -1):
        succ = deltas[h + 1].select(F.col("s").alias("_ws"),
                                    F.col("v").alias("_wv"),
                                    F.col("sigma").alias("_wsig"),
                                    F.col("delta").alias("_wdel"))
        contrib = (levels[h]
                   .join(sym.withColumnRenamed("src", "v"), "v")
                   .join(succ, (F.col("s") == F.col("_ws"))
                         & (F.col("dst") == F.col("_wv")))
                   .groupBy("s", "v")
                   .agg(F.sum(F.col("sigma") / F.col("_wsig")
                              * (F.lit(1.0) + F.col("_wdel"))).alias("_d")))
        deltas[h] = (levels[h].join(contrib, ["s", "v"], "left")
                     .select("s", "v", "sigma",
                             F.coalesce("_d", F.lit(0.0)).alias("delta")))
        if h > 0:
            deltas[h] = deltas[h].localCheckpoint(eager=False)
    acc = deltas[1]
    for h in range(2, max_hops + 1):
        acc = acc.unionByName(deltas[h])
    stats = (verts.agg(F.count(F.lit(1)).cast("double").alias("_n"))
             .crossJoin(ns))
    summed = (acc.filter(F.col("s") != F.col("v"))
              .groupBy(F.col("v").alias("id"))
              .agg(F.sum("delta").alias("_bc")))
    return (verts.join(summed, "id", "left")
            .crossJoin(F.broadcast(stats))
            .select("id",
                    (F.coalesce("_bc", F.lit(0.0)) * F.col("_n")
                     / F.col("_ns")).alias("bc_est")))
