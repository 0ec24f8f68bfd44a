"""Graph analytics over edge frames — the algorithm layer a user of a
graph database expects next to pathfinding (the reference ships no
GDS-style library; these are extensions, like streaming).

Operators take a plain (src, dst) edge DataFrame — the compiler's edge
scans, a label snapshot, or any relational projection — so they compose
with both the Cypher layer and raw tables. All of them are expressed as
joins + aggregates (Catalyst-optimizable, AQE-broadcastable). Every
iterative operator runs its rounds through `_superstep.supersteps`,
which owns when and how lineage is truncated and what a spent round
budget does, so user-supplied iteration counts keep the plan bounded.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agensgraph_spark.operators import _superstep as S
from agensgraph_spark.pipeline.dedup import _driver_edges, _driver_label_frame


def _undirected(edges: DataFrame) -> DataFrame:
    """The symmetrized, self-loop-free, distinct (src, dst) edge frame,
    lazily truncated: its callers join it once per round, and
    un-truncated each reference re-inlines the union+distinct tree."""
    return S.truncate(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst")).distinct(), eager=False)


def _canonical(edges: DataFrame) -> DataFrame:
    """The undirected edge set as distinct (a, b) pairs with a < b, no
    self-loops, lazily truncated: its callers read it several times."""
    return S.truncate(edges.select(F.least("src", "dst").alias("a"),
                                   F.greatest("src", "dst").alias("b"))
                      .filter(F.col("a") != F.col("b")).distinct(),
                      eager=False)


def _vertex_ids(vertices: DataFrame) -> DataFrame:
    """The distinct ``id`` universe, lazily truncated: its callers read
    it more than once (every round, or the universe and |V|)."""
    return S.truncate(vertices.select("id").distinct(), eager=False)


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

    The plan doubles per round (pr feeds both the contribution join
    and the rank update); as a sparse superstep the oracle-replayed
    default of 3 rounds keeps one closed-form join chain."""
    S.check_budget("pagerank", "iters", iters)
    verts = _vertex_ids(vertices)
    ed = _degree_edges(edges)

    def step(pr, i, cut):
        return cut(verts.join(_contributions(ed, pr, "pr"), "id", "left")
                   .select("id",
                           (F.lit(1.0 - damping)
                            + F.lit(damping) * F.coalesce("_c", F.lit(0.0))
                            ).alias("pr")))

    return S.supersteps("pagerank", "iters", iters,
                        verts.select("id", F.lit(1.0).alias("pr")), step,
                        sparse=True)


def _degree_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, _deg): each edge with its source's out-degree, static
    across rank rounds and lazily truncated (every round joins it)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    return S.truncate(edges.join(deg, "src"), eager=False)


def _contributions(ed: DataFrame, rank: DataFrame, col: str) -> DataFrame:
    """(id, _c): the rank each vertex receives, the sum over its
    in-edges of the source's ``col`` over its out-degree."""
    return (ed.join(rank.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col(col) / F.col("_deg")).alias("_c")))


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
    per-vertex top-1 window — all narrow rows; a sparse superstep like
    pagerank. The symmetrized edge relation (self-loops kept) is
    referenced EVERY round, so it is lazily truncated once (one
    LogicalRDD, computed at first action) instead of re-inlining its
    union+distinct subtree per round. Returns (id, community)."""
    S.check_budget("label_propagation", "iters", iters)
    sym = S.truncate(edges.select("src", "dst")
                     .unionByName(edges.select(F.col("dst").alias("src"),
                                               F.col("src").alias("dst")))
                     .distinct(), eager=False)
    verts = vertices.select("id").distinct()
    w = Window.partitionBy("id").orderBy(F.col("n").desc(),
                                         F.col("label").asc())

    def step(lab, i, cut):
        freq = (sym.join(lab.select(F.col("id").alias("src"), "label"), "src")
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("n")))
        modal = (freq.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .select("id", F.col("label").alias("_m")))
        return cut(lab.join(modal, "id", "left")
                   .select("id", F.coalesce("_m", "label").alias("label")))

    lab = S.supersteps("label_propagation", "iters", iters,
                       verts.select("id", F.col("id").alias("label")), step,
                       sparse=True)
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
    # the canonical edges feed the degree aggregate (both sides), the
    # rank join and the wedge-closure join — 4 references
    tri = _oriented_triangles(_canonical(edges))
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
    are truncated per generation and every shuffle
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
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    S.check_budget("k_truss", "max_iters", max_iters)
    und = _canonical(edges)

    def full_support(cur: DataFrame) -> DataFrame:
        tri_edges = _oriented_triangles(cur).select(F.explode(F.array(*[
            F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))
            for x, y in (("p", "q1"), ("p", "q2"), ("q1", "q2"))])).alias("e")
        ).select("e.a", "e.b")
        agg = tri_edges.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support"))
        return (cur.join(agg, ["a", "b"], "left")
                .select("a", "b",
                        F.coalesce("support", F.lit(0)).alias("support")))

    def closed_wedges(cand: DataFrame, g: DataFrame, cut) -> DataFrame:
        """(a, b, c) for each ``cand`` edge (a, b) and each c adjacent
        to a with (b, c) an edge of ``g``: the triangles of ``g``
        through the candidates. Work is bounded by sum of deg(a) over
        candidates — the candidate set is peel-sized, never
        corpus-sized (the caller broadcast-hints it when its exact
        count is driver-known small; checkpointed inputs otherwise
        carry no size estimate and the planner falls back to shuffling
        the full edge set on every round)."""
        adj = (g.select(F.col("a"), F.col("b").alias("c"))
               .unionByName(g.select(F.col("b").alias("a"),
                                     F.col("a").alias("c"))))
        fan = cut(cand.join(adj, "a").filter(F.col("c") != F.col("b")))
        # the wedge fan (|cand| x deg) drives the closure join: its
        # exact count is one cheap map-only job, and a driver-known
        # small fan broadcast turns the closure from a full-edge-set
        # sort-merge (measured 1.5-1.9 s per round at sf0.1 even for a
        # 10-edge candidate set — checkpointed inputs carry no size
        # estimate) into a map-only hash probe of the edge frame
        fan = _maybe_bcast(fan, fan.count())
        return fan.join(g.select(F.col("a").alias("x"), F.col("b").alias("y")),
                        (F.least("b", "c") == F.col("x"))
                        & (F.greatest("b", "c") == F.col("y")))

    # broadcast the peel-sized frames only when their EXACT row count
    # is driver-known under this bound (~32 MB of long pairs) — a
    # fraction-gated regime alone could still hand a corpus-scale
    # removed set to a broadcast at 100 TB
    bcast_bound = 2_000_000

    def _maybe_bcast(df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= bcast_bound else df

    def peel(st, i, cut):
        # st: (support frame of the surviving edges, their count, those
        # edges). keep is a plain filter over the supp checkpoint —
        # giving it its own checkpoint would pay one extra stage
        # materialization per round (an AQE plan's RDD construction
        # executes its non-result stages eagerly)
        supp, n_before, und = st
        keep = supp.filter(F.col("support") >= k - 2)
        n_after = keep.count()
        if n_after in (n_before, 0):
            return keep, n_after, und  # the fixpoint: nothing to rebuild
        n_removed = n_before - n_after
        removed = _maybe_bcast(
            supp.filter(F.col("support") < k - 2).select("a", "b"),
            n_removed)
        cur = keep.select("a", "b")
        if n_removed > _INCREMENTAL_PEEL * n_before:
            return cut(full_support(cur)), n_after, cur
        # triangles of the PRE-peel graph that contain a removed
        # edge mark every edge whose support can have changed
        tri_r = closed_wedges(removed, und, cut)
        affected = cut(tri_r.select(F.least("a", "c").alias("a"),
                                    F.greatest("a", "c").alias("b"))
                       .unionByName(
                           tri_r.select(F.least("b", "c").alias("a"),
                                        F.greatest("b", "c").alias("b")))
                       .distinct()
                       # survivors only: removed edges need no support
                       .join(cur, ["a", "b"], "left_semi"))
        # exact support of each affected edge in cur: its count of
        # common neighbors. The hinted copy drives the fan join only:
        # on the preserved side of the left join below Spark would drop
        # the hint with a warning
        aff_hinted = _maybe_bcast(affected, affected.count())
        counted = (closed_wedges(aff_hinted, cur, cut).groupBy("a", "b")
                   .agg(F.count(F.lit(1)).alias("support")))
        supp_aff = (affected.join(counted, ["a", "b"], "left")
                    .select("a", "b",
                            F.coalesce("support", F.lit(0)).alias("support")))
        return (cut(keep.join(aff_hinted, ["a", "b"], "left_anti")
                    .unionByName(supp_aff)), n_after, cur)

    supp = S.supersteps(
        "k_truss", "max_iters", max_iters,
        (S.truncate(full_support(und), eager=False), und.count(), und),
        peel, lambda old, new: new[1] in (old[1], 0))[0]
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
    long) rows. Aggregation inside recursion puts this outside
    recursive-CTE SQL — verified by a pure-Python peel replay
    (tests/test_pipeline_scale.py).
    Returns (id, degree) of the k-core members."""
    S.check_budget("k_core", "max_iters", max_iters)
    sym = _undirected(edges)

    def peel(st, i, cut):
        # one count job per round: the previous round's count is this
        # round's baseline — the initial count is the only extra job
        sym, _ = st
        keep = (sym.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") >= k).select("src"))
        nxt = cut(sym.join(keep, "src", "left_semi")
                  .join(keep.withColumnRenamed("src", "dst"), "dst",
                        "left_semi")
                  .select("src", "dst"))
        return nxt, nxt.count()

    sym = S.supersteps("k_core", "max_iters", max_iters, (sym, sym.count()),
                       peel, lambda old, new: new[1] in (old[1], 0))[0]
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
    truncated lazily EVERY round: each round's frame feeds four
    consumers (two neighborhood sums + two scalar norms), so
    un-truncated the plan grows ~5.5x per round (measured: 10 KB ->
    14 MB from iters=1 to 5) and the sparse cadence of pagerank would
    come far too late. Returns (id, authority double, hub double).
    """
    S.check_budget("hits", "iters", iters)
    # verts and the edge relation are each read twice per round
    verts = _vertex_ids(vertices)
    e = S.truncate(edges.select("src", "dst"), eager=False)

    def normalized(scores: DataFrame, col: str) -> DataFrame:
        m = scores.agg(F.max(col).alias("_m"))
        return (scores.crossJoin(F.broadcast(m))
                .select("id", F.when(F.col("_m") > 0, F.col(col) / F.col("_m"))
                        .otherwise(F.lit(0.0)).alias(col)))

    def step(st, i, cut):
        hub = st[1]
        a_sum = (e.join(hub.withColumnRenamed("id", "src"), "src")
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.sum("hub").alias("_a")))
        auth = normalized(
            verts.join(a_sum, "id", "left")
            .select("id", F.coalesce("_a", F.lit(0.0)).alias("auth")), "auth")
        h_sum = (e.join(auth.withColumnRenamed("id", "dst"), "dst")
                 .groupBy(F.col("src").alias("id"))
                 .agg(F.sum("auth").alias("_h")))
        hub = normalized(
            verts.join(h_sum, "id", "left")
            .select("id", F.coalesce("_h", F.lit(0.0)).alias("hub")), "hub")
        return cut(auth), cut(hub)

    auth, hub = S.supersteps("hits", "iters", iters,
                             (None, verts.select("id", F.lit(1.0).alias("hub"))),
                             step)
    return (auth.withColumnRenamed("auth", "authority")
            .join(hub, "id"))


def _seed_set(sources: DataFrame, verts: DataFrame,
              op: str) -> tuple[DataFrame, DataFrame]:
    """(srcs, ns) for a seeded operator: ``srcs`` is the distinct
    ``sources`` ids present in ``verts`` (an out-of-graph seed can
    never be reached, so counting it would skew |S|), lazily
    truncated — every caller reads it twice (its seed rows
    and |S|); ``ns`` is a one-row ``_ns`` frame holding |S| as a
    double. An empty seed set refuses IN the plan (raise_error on the
    |S| aggregate, naming ``op``) rather than through a plan-time count
    job, which re-ran the distinct+semi-join subplan on every call —
    ~0.4 s of pure overhead — while the in-plan raise still fails the
    run loudly at first action."""
    srcs = S.truncate(sources.select("id").distinct()
                      .join(verts, "id", "left_semi"), eager=False)
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
    restart frame is narrow and broadcast. A sparse superstep like
    pagerank. Returns (id, ppr double).

    ``sources`` ids absent from ``vertices`` are dropped BEFORE |S| is
    counted: an out-of-graph seed can never receive restart mass, so
    counting it would silently shrink the total restart mass to
    |S∩V|/|S| and diverge from any oracle that derives seeds from the
    vertex set. All-out-of-graph (or empty) sources refuse loudly."""
    S.check_budget("personalized_pagerank", "iters", iters)
    verts = vertices.select("id").distinct()
    srcs, ns = _seed_set(sources, verts, "personalized_pagerank")
    # restart (with its |S| raise-guard subplan) is read every round
    restart = S.truncate(
        verts.join(srcs.withColumn("_is_src", F.lit(1)), "id", "left")
        .crossJoin(F.broadcast(ns))
        .select("id", F.when(F.col("_is_src").isNotNull(),
                             F.lit(1.0) / F.col("_ns"))
                .otherwise(F.lit(0.0)).alias("restart")), eager=False)
    ed = _degree_edges(edges)

    def step(pr, i, cut):
        return cut(restart.join(_contributions(ed, pr, "ppr"), "id", "left")
                   .select("id",
                           (F.lit(1.0 - damping) * F.col("restart")
                            + F.lit(damping) * F.coalesce("_c", F.lit(0.0))
                            ).alias("ppr")))

    return S.supersteps("personalized_pagerank", "iters", iters,
                        restart.select("id", F.col("restart").alias("ppr")),
                        step, sparse=True)


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
    S.check_budget("random_walks", "steps", steps)
    # the edge relation is re-joined every step
    hop = S.truncate(edges.select(F.col("src").alias("cur"), "dst"),
                     eager=False)
    moved = F.col("dst").isNotNull()

    def step(w, s, cut):
        cand = (w.join(hop, "cur", "left")
                .withColumn("_h", F.md5(F.concat_ws(
                    ":", F.lit(salt), F.col("walk_id"),
                    F.lit(str(s)), F.col("dst")))))
        win = Window.partitionBy("walk_id").orderBy(
            F.col("_h").asc(), F.col("dst").asc())
        return cut(cand.withColumn("_rn", F.row_number().over(win))
                   .filter(F.col("_rn") == 1)
                   .select("walk_id",
                           F.coalesce("dst", "cur").alias("cur"),
                           F.when(moved, F.concat(F.col("path"), F.lit("->"),
                                                  F.col("dst")))
                           .otherwise(F.col("path")).alias("path"),
                           F.when(moved, F.concat(F.col("path_ids"),
                                                  F.array(F.col("dst"))))
                           .otherwise(F.col("path_ids")).alias("path_ids")))

    w = S.supersteps(
        "random_walks", "steps", steps,
        starts.select(F.col("id").alias("walk_id"), F.col("id").alias("cur"),
                      F.col("id").cast("string").alias("path"),
                      F.array(F.col("id")).alias("path_ids")),
        step, sparse=True)
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
    set + a distinct — all on narrow id-pair rows (`_reach`). Returns
    (id, n_reached long, harmonic double) for every vertex (zeros for
    isolated ones)."""
    S.check_budget("harmonic_centrality", "max_hops", max_hops)
    verts = _vertex_ids(vertices)
    return (_reach("harmonic_centrality", verts, verts, edges, max_hops, "s")
            .select("id", F.col("_r").alias("n_reached"),
                    F.col("_h").alias("harmonic")))


def _reach(op: str, verts: DataFrame, seeds: DataFrame, edges: DataFrame,
           max_hops: int, by: str) -> DataFrame:
    """(id, _r, _h) for every ``verts`` id: the count of pairs (s, v)
    with s a ``seeds`` id and v within ``max_hops`` hops of s over the
    undirected ``edges``, and the sum of their 1/d, keyed by ``by``
    (``"s"`` or ``"v"``) — the BFS both harmonic operators share. Each
    frontier feeds the union, the next expansion AND the next
    anti-join, so un-truncated the plan grows ~3x per hop (measured
    2.4 KB -> 74 KB from hop 1 to 4): every hop but the last is cut."""
    sym = _undirected(edges)

    def hop(st, i, cut):
        dist, frontier = st
        nxt = cut(frontier
                  .join(sym.withColumnRenamed("src", "v"), "v")
                  .select("s", F.col("dst").alias("v"),
                          F.lit(i + 1).alias("d"))
                  .distinct()
                  .join(dist, ["s", "v"], "left_anti"))
        return dist.unionByName(nxt), nxt

    dist = seeds.select(F.col("id").alias("s"), F.col("id").alias("v"),
                        F.lit(0).alias("d"))
    dist = S.supersteps(op, "max_hops", max_hops, (dist, dist), hop)[0]
    reached = (dist.filter(F.col("d") > 0).groupBy(F.col(by).alias("id"))
               .agg(F.count(F.lit(1)).alias("_r"),
                    F.sum(F.lit(1.0) / F.col("d")).alias("_h")))
    return verts.join(reached, "id", "left").select(
        "id", F.coalesce("_r", F.lit(0)).cast("long").alias("_r"),
        F.coalesce("_h", F.lit(0.0)).alias("_h"))


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
    op = "harmonic_centrality_sampled"
    S.check_budget(op, "max_hops", max_hops)
    # the shared subtrees are truncated: un-truncated, the plan carried
    # 68 parquet scans and its analysis alone cost ~1.1s (r14)
    verts = _vertex_ids(vertices)
    srcs, ns = _seed_set(sources, verts, op)
    # |V| and |S| folded declaratively (two single-row aggregates,
    # broadcast back) so the whole run replays as chained SQL CTEs
    stats = (verts.agg(F.count(F.lit(1)).cast("double").alias("_n"))
             .crossJoin(ns))
    return (_reach(op, verts, srcs, edges, max_hops, "v")
            .crossJoin(F.broadcast(stats))
            .select("id", F.col("_r").alias("n_sampled"),
                    (F.col("_h") * F.col("_n") / F.col("_ns"))
                    .alias("harmonic_est")))


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
    def step(lab, i, cut):
        lab = lab.select("id", "f", "b")
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
        return cut(lab.join(nf, "id", "left").join(nb, "id", "left")
                   .select("id",
                           F.col("f").alias("_of"), F.col("b").alias("_ob"),
                           F.least("f", "_mf").alias("f"),
                           F.least("b", "_mb").alias("b")))

    lab = S.supersteps(
        "strongly_connected_components", "max_iters", max_iters,
        S.truncate(vertices.select("id", F.col("id").alias("f"),
                                   F.col("id").alias("b"))),
        step,
        lambda _, new: new.filter((F.col("f") != F.col("_of"))
                                  | (F.col("b") != F.col("_ob"))).count() == 0,
        strict=True)
    return lab.select("id", "f", "b")


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
    are truncated per round, so the plan never grows.
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
    op = "strongly_connected_components"
    S.check_budget(op, "max_rounds", max_rounds)
    S.check_budget(op, "max_iters", max_iters)
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
    parts: list[DataFrame] = []

    def restrict(act_e: DataFrame, act_v: DataFrame) -> DataFrame:
        return (act_e
                .join(act_v.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(act_v.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst"))

    def settle(st, i, cut):
        act_v, act_e, n_act = st
        # trim to fixpoint: peel vertices that lack an in- or out-edge
        # in the ACTIVE subgraph (cannot be on a cycle -> singleton
        # SCCs). Lazy generations: the next peel's count (or the settle
        # phase's first job) materializes act_v and act_e in one job
        while True:
            srcs = act_e.select(F.col("src").alias("id")).distinct()
            dsts = act_e.select(F.col("dst").alias("id")).distinct()
            triv = cut(act_v.join(srcs, "id", "left_anti")
                       .unionByName(act_v.join(dsts, "id", "left_anti"))
                       .distinct())
            n_triv = triv.count()
            if n_triv == 0:
                break
            parts.append(triv.select("id", F.col("id").alias("component")))
            act_v = cut(act_v.join(triv, "id", "left_anti"))
            act_e = cut(restrict(act_e, act_v))
            n_act -= n_triv
        if n_act == 0:
            return act_v, act_e, 0
        # lockstep fixpoint: (id, f, b) in one loop — the convergence
        # counts AND the old per-round f⋈b join collapse into it
        fb = (_min_reach_labels_fb(act_e, act_v, max_iters)
              .select("id", F.col("f").alias("_f"), F.col("b").alias("_b")))
        settled = fb.filter(F.col("_f") == F.col("_b"))
        parts.append(cut(settled.select("id", F.col("_f").alias("component"))))
        act_v = cut(fb.filter(F.col("_f") != F.col("_b")).select("id"))
        n_act = act_v.count()   # materializes fb + act_v in one job
        return act_v, cut(restrict(act_e, act_v)), n_act

    act_v = S.truncate(verts.distinct())
    n_act = act_v.count()
    if n_act:
        S.supersteps(op, "max_rounds", max_rounds,
                     (act_v, S.truncate(e), n_act), settle,
                     lambda _, new: new[2] == 0, strict=True)
    if not parts:  # empty graph: no edges and no (or empty) vertices
        return verts.select("id", F.col("id").alias("component"))
    return reduce(DataFrame.unionByName, parts)


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
    op = "betweenness_centrality_sampled"
    S.check_budget(op, "max_hops", max_hops)
    # sym is joined once per forward hop AND once per backward level
    sym = _undirected(edges)
    verts = _vertex_ids(vertices)
    srcs, ns = _seed_set(sources, verts, op)

    def forward(st, i, cut):
        levels, seen = st
        cand = (levels[-1]
                .join(sym.withColumnRenamed("src", "v"), "v")
                .groupBy("s", F.col("dst").alias("v"))
                .agg(F.sum("sigma").alias("sigma")))
        nxt = cut(cand.join(seen, ["s", "v"], "left_anti"))
        return levels + [nxt], seen.unionByName(nxt.select("s", "v"))

    lvl0 = srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                       F.lit(1.0).alias("sigma"))
    levels = S.supersteps(op, "max_hops", max_hops,
                          ([lvl0], lvl0.select("s", "v")), forward)[0]

    def backward(deltas, i, cut):
        # deltas holds levels max_hops .. h+1, rim first
        h = max_hops - 1 - i
        succ = deltas[-1].select(F.col("s").alias("_ws"),
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
        return deltas + [cut(
            levels[h].join(contrib, ["s", "v"], "left")
            .select("s", "v", "sigma",
                    F.coalesce("_d", F.lit(0.0)).alias("delta")))]

    # backward dependency accumulation, rim inward; delta at the rim
    # level is 0 by definition (no deeper shortest paths through it)
    deltas = S.supersteps(
        op, "max_hops", max_hops,
        [levels[max_hops].select("s", "v", "sigma",
                                 F.lit(0.0).alias("delta"))], backward)
    # levels 1 .. max_hops (the seed level's delta counts nothing)
    acc = reduce(DataFrame.unionByName, deltas[-2::-1])
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
