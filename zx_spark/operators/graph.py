"""PageRank — link-style centrality over an edge list, Pregel-shaped.

The curation use: after near-dup detection builds a graph (MinHash pairs,
k-NN neighbors), centrality picks the CANONICAL document per
neighborhood — the best-connected exemplar — instead of dedup.py's
lexicographic min-id winner, and centrality-weighted sampling keeps
"hub" documents that many near-variants orbit. Classic public algorithm
(Brin & Page 1998; the damped power iteration).

Distributed shape (what survives 100 TB):

- Each iteration is exactly two data-sized shuffles: ranks ⋈ edges on
  the source key (the edge frame — with out-degrees attached — is
  computed ONCE, persisted, and reused every iteration), then a hash
  aggregation on the destination key with map-side partial combine.
  That is the Pregel/GraphX cost model re-expressed as DataFrames.
- The rank frame is node-sized, never edge-sized. Lineage control is
  adaptive: when the rank frame is referenced TWICE per iteration
  (dangling mass) or an action runs anyway (tol), it is
  localCheckpoint-ed eagerly each iteration — otherwise the plan tree
  would double per step (the same re-inlining blowup MATERIALIZED CTEs
  prevent on the oracle side). With a single reference per iteration
  the chain grows linearly, so the loop stays LAZY and only cuts
  lineage every ``checkpoint_every`` steps — a fixed-iteration run is
  one job, not 3×iters jobs (measured 9.4s → ~3s at sf0.1 toy scale;
  at real scale the saved job-scheduling overhead is the same win).
- Dangling-node mass (nodes with no out-edges) is a SINGLE-ROW frame
  broadcast back in — the only driver-sized state besides the node
  count. The node frame carries a has-out-edge flag from the same
  aggregation that builds it, so the node count and the dangling count
  are one setup job over that (persisted) frame. When the graph has no
  dangling nodes, the per-iteration mass machinery is skipped
  entirely.
- Optional ``tol`` early-stop costs one max-abs-delta aggregation per
  iteration — worth it when convergence beats the iteration budget.

Reference scope note: the reference engine (src/lib.rs) has no graph
surface; this operator belongs to the beyond-reference curation family
next to dedup.py (whose connected components it composes with).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    weight_col: str | None = None,
    nodes: DataFrame | None = None,
    seeds: DataFrame | None = None,
    tol: float | None = None,
    checkpoint_every: int = 3,
    dangling: str = "redistribute",
    sink_node=None,
) -> DataFrame:
    """Damped (optionally personalized) PageRank over a directed edge
    list → ``(node, rank)``.

    ``r_{t+1}(v) = (1-d)·t(v) + d * (Σ_{(u→v)} r_t(u)·w(u→v)/W(u) + D_t·t(v))``

    where ``W(u)`` is u's out-degree (sum of weights when ``weight_col``
    is given), ``D_t`` the total rank mass sitting on dangling nodes,
    and ``t`` the teleport distribution — uniform ``1/N`` by default, or
    ``1/|S|`` concentrated on ``seeds`` (one ``node`` column) for
    PERSONALIZED PageRank: ranks then measure proximity to the seed
    set, the standard seed-expansion tool (grow a trusted document set
    to its graph neighborhood before sampling). Ranks sum to 1 every
    iteration. ``nodes`` (one ``node`` column) may add isolated
    vertices beyond those mentioned by edges. ``tol`` stops early once
    ``max_v |r_{t+1}(v) − r_t(v)| < tol``.

    The per-edge contribution is computed as ``rank/W`` then summed —
    NOT pre-folded into ``rank·(1/W)`` — so independent re-derivations
    (the driver's unrolled-CTE oracle, the numpy twin in tests) match
    bit-for-bit modulo summation order.

    ``dangling`` picks the dangling-mass strategy:

    - ``"redistribute"`` (default, exact): the classic same-step mass
      redistribution. It references the rank frame TWICE per iteration,
      which forces the eager-checkpoint loop (~7 jobs/iteration
      measured at sf0.1) — correct at any scale, but job-scheduling
      overhead dominates toy/medium runs.
    - ``"collect"``: augment the graph ONCE with an explicit sink node
      (``sink_node``, required, must not collide with a real node id):
      every dangling node gets one edge to the sink, and the sink gets
      edges to the teleport targets (all nodes, or the seeds). The
      augmented graph has no dangling nodes, so the loop takes the
      LAZY single-reference path — one job total for a fixed-iteration
      run instead of ~7/iteration (measured; see SCALE.md). The sink
      row is dropped at the end and the survivors renormalized to
      sum 1. This is the standard sink-collector engineering variant:
      dangling mass re-enters the walk one HOP later than under
      ``redistribute``, so ranks differ numerically from the exact
      model (an absorbing-redistribution Markov chain, not the same
      matrix) — the tests pin it against its own numpy twin. On a
      graph with no dangling nodes the modes are identical (no
      augmentation happens). Edge frame grows by |dangling| + N rows.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if dangling not in ("redistribute", "collect"):
        raise ValueError(f"unknown dangling mode: {dangling!r}")
    s, d = F.col(f"`{src_col}`"), F.col(f"`{dst_col}`")
    cond = s.isNotNull() & d.isNotNull()
    if weight_col is not None:
        # a NULL or non-positive weight is NO edge: keeping it would
        # either divide by a zero out-weight (NaN ranks) or leave the
        # source with od=NULL so its mass silently vanishes — dropping
        # it instead makes an all-bad-weight source DANGLING, which the
        # mass redistribution handles correctly
        cond = cond & (F.col(f"`{weight_col}`").cast("double") > 0)
    e = edges.filter(cond).select(
        s.alias("__src"),
        d.alias("__dst"),
        *(
            [F.col(f"`{weight_col}`").cast("double").alias("__w")]
            if weight_col is not None
            else []
        ),
    )
    # ONE aggregation over the edge list builds the node frame and its
    # has-out-edge flag: every edge contributes (src, 1) and (dst, 0),
    # grouped by node, flag = max. Extra `nodes` and the seeds join the
    # same aggregation with flag 0 (an isolated vertex has no out-edge).
    ends = e.select(
        F.explode(
            F.array(
                F.struct(F.col("__src").alias("node"), F.lit(1).alias("__out")),
                F.struct(F.col("__dst").alias("node"), F.lit(0).alias("__out")),
            )
        ).alias("__x")
    ).select("__x.node", "__x.__out")
    if nodes is not None:
        ends = ends.unionByName(
            nodes.select(F.col("node"), F.lit(0).alias("__out")).filter(
                F.col("node").isNotNull()
            )
        )
    seed_frame = None
    if seeds is not None:
        seed_frame = (
            seeds.select(F.col("node")).filter(F.col("node").isNotNull()).distinct()
        )
        ns = seed_frame.count()  # driver scalar (seed sets are small)
        if ns == 0:
            raise ValueError("seeds must contain at least one non-NULL node")
        ends = ends.unionByName(seed_frame.withColumn("__out", F.lit(0)))
    node_frame = ends.groupBy("node").agg(F.max("__out").alias("__out"))
    if seed_frame is not None:
        # per-node teleport mass rides on the node frame; seeds-only
        node_frame = node_frame.join(
            F.broadcast(seed_frame.withColumn("__s", F.lit(1))), "node", "left"
        ).select(
            "node",
            "__out",
            F.when(F.col("__s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("__tp"),
        )
    node_frame = node_frame.persist()

    wexpr = F.col("__w") if weight_col is not None else F.lit(1.0)
    out = e.groupBy("__src").agg(F.sum(wexpr).alias("__od"))
    # out-degree rides along on every edge so each iteration is ONE join.
    # merge hint: the per-node out-degree frame is node-sized (∝ graph)
    # but its agg-output estimate can land under the broadcast threshold
    # — the source_overlap_matrix class (SCALE.md r12); sort-merge spills.
    ew = e.join(out.hint("merge"), "__src").persist()

    # The setup probe: the node count and the dangling count come from
    # ONE action over the persisted node frame (which it materializes).
    # The eager scalars were ~2/3 of this operator's bench time at sf0.1
    # (r14). Measured on a small cached symmetric graph: construction
    # runs 4 jobs in all.
    stat = node_frame.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(F.col("__out") == 0, 1)).alias("__nd"),
    ).collect()[0]
    n, has_dangling = int(stat["__n"]), int(stat["__nd"]) > 0
    if n == 0:
        return node_frame.select("node", F.lit(None).cast("double").alias("rank"))

    # Only the eager (dangling/tol) loop and the sink augmentation read
    # this frame; it filters the cached node frame.
    dangling_frame = node_frame.filter(F.col("__out") == 0).select("node")

    seeded = seed_frame is not None
    use_sink = dangling == "collect" and has_dangling
    if use_sink:
        if sink_node is None:
            raise ValueError(
                "dangling='collect' needs an explicit sink_node id that is "
                "not a node of the graph (e.g. -1 for positive long ids)"
            )
        sink_lit = F.lit(sink_node).cast(node_frame.schema["node"].dataType)
        if node_frame.filter(F.col("node") == sink_lit).limit(1).count():
            raise ValueError(f"sink_node {sink_node!r} is already a graph node")
        # augment ONCE: dangling -> sink, sink -> teleport targets (all
        # nodes, or the seeds). The augmented graph has no dangling
        # nodes, so the iteration loop below references the rank frame
        # exactly once per step and stays on the LAZY one-job path.
        wcols = [F.lit(1.0).alias("__w")] if weight_col is not None else []
        to_sink = dangling_frame.select(
            F.col("node").alias("__src"), sink_lit.alias("__dst"), *wcols
        )
        tgt = seed_frame if seeded else node_frame.select("node")
        from_sink = tgt.select(
            sink_lit.alias("__src"), F.col("node").alias("__dst"), *wcols
        )
        e = e.unionByName(to_sink).unionByName(from_sink)
        out = e.groupBy("__src").agg(F.sum(wexpr).alias("__od"))
        ew.unpersist()
        ew = e.join(out, "__src").persist()
        sink_row = node_frame.sparkSession.range(1).select(
            sink_lit.alias("node"),
            F.lit(1).alias("__out"),
            *([F.lit(0.0).alias("__tp")] if seeded else []),
        )
        old_nf = node_frame
        node_frame = node_frame.unionByName(sink_row).persist()
        old_nf.unpersist()
        n += 1  # the sink is the one new node (collision checked above)
        has_dangling = False

    base = (1.0 - damping) / n
    tp_cols = ["__tp"] if seeded else []
    # eager per-iteration checkpoints only when required (see module
    # docstring); otherwise stay lazy and cut lineage periodically
    eager_every_iter = has_dangling or tol is not None
    # r15 (§2.4, the dup_components trick): in the tol path the previous
    # rank RIDES the new frame (the iteration join starts from the
    # checkpointed rank frame itself — same node set as node_frame, same
    # join shape), so the per-iteration convergence check is a local
    # max-abs scan of the frame the checkpoint just materialized instead
    # of a node-sized shuffle JOIN of the old and new rank frames. In
    # the tol path ranks carries (node, *tp_cols, rank); both reads per
    # iteration hit the checkpoint, so lineage stays flat.
    carry_prev = tol is not None
    # r0 = the teleport distribution (uniform 1/N when not seeded)
    ranks = node_frame.select(
        "node", *tp_cols, (F.col("__tp") if seeded else F.lit(1.0 / n)).alias("rank")
    )
    if eager_every_iter:
        ranks = ranks.localCheckpoint(eager=True)
    for it in range(iters):
        # merge hint: BOTH sides are data-sized (the cached edge frame
        # and the node-sized rank frame); a cached frame's estimate can
        # land under the broadcast threshold and Catalyst then ships the
        # WHOLE edge list per iteration (caught by the broadcast audit,
        # tests/test_broadcast_audit.py — the SCALE.md r12 class)
        contrib = (
            ew.hint("merge").join(ranks, ew["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                ((F.col("rank") * wexpr if weight_col is not None else F.col("rank")) / F.col("__od")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__m"))
        )
        prev_cols = ["__prev"] if carry_prev else []
        if carry_prev:
            iter_base = ranks.select(
                "node", *tp_cols, F.col("rank").alias("__prev")
            )
        else:
            iter_base = node_frame
        # merge hint: contrib is node-sized (grouped agg over the edge
        # frame) — estimate-small but data-sized (SCALE.md r12 class)
        new = iter_base.join(contrib.hint("merge"), "node", "left").select(
            "node", *tp_cols, *prev_cols,
            F.coalesce(F.col("__m"), F.lit(0.0)).alias("__m"),
        )
        if has_dangling:
            dm = (
                ranks.join(dangling_frame.hint("merge"), "node")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
            )
            # single-row broadcast — the same stat-frame crossJoin shape
            # evaluate.py / datadrift.py use
            new = new.crossJoin(F.broadcast(dm)).select(
                "node",
                *tp_cols,
                *prev_cols,
                (
                    F.col("__m")
                    + (
                        F.col("__dm") * F.col("__tp")
                        if seeded
                        else F.col("__dm") / F.lit(float(n))
                    )
                ).alias("__m"),
            )
        new = new.select(
            "node",
            *tp_cols,
            *prev_cols,
            (
                (F.lit(1.0 - damping) * F.col("__tp") + F.lit(damping) * F.col("__m"))
                if seeded
                # the (1-d)/N division form is pinned by the driver
                # oracle — don't refactor to (1-d)·(1/N), the doubles
                # differ
                else (F.lit(base) + F.lit(damping) * F.col("__m"))
            ).alias("rank"),
        )
        if eager_every_iter:
            # tol path: the checkpoint is LAZY — the delta aggregation
            # below is the action that materializes it, so each
            # iteration schedules ONE job, not a checkpoint job plus a
            # delta job (r15; the dangling-only path keeps the eager
            # checkpoint — it has no per-iteration action of its own)
            new = new.localCheckpoint(eager=tol is None)
        elif (
            (it + 1) % max(checkpoint_every, 1) == 0
            # only cut when a FULL window of iterations remains: the
            # lazy checkpoint batch-materializes every accumulated AQE
            # stage when it fires (measured: iters=5/ce=3 pays 30 jobs
            # for the cut at it=2, then re-pays the tail anyway), so a
            # cut near the end costs more than the lineage it saves
            and it + 1 + max(checkpoint_every, 1) <= iters
        ):
            new = new.localCheckpoint(eager=False)
        if tol is not None:
            delta = (
                new.agg(
                    F.max(F.abs(F.col("rank") - F.col("__prev"))).alias("__d")
                ).collect()[0]["__d"]
            )
            ranks = new.select("node", *tp_cols, "rank")
            if delta is not None and delta < tol:
                break
        else:
            ranks = new
    ranks = ranks.select("node", "rank")  # drop carried __tp/__prev
    if eager_every_iter:
        # ranks are checkpointed — the helper caches served their purpose
        ew.unpersist()
        node_frame.unpersist()
    if use_sink:
        # drop the sink and renormalize the survivors to sum 1. The two
        # references to `ranks` here are OUTSIDE the loop — the final
        # plan holds the (linear) iteration chain twice, not 2^iters.
        survivors = ranks.filter(
            F.col("node") != F.lit(sink_node).cast(ranks.schema["node"].dataType)
        )
        tot = survivors.agg(F.sum("rank").alias("__tot"))
        ranks = survivors.crossJoin(F.broadcast(tot)).select(
            "node", (F.col("rank") / F.col("__tot")).alias("rank")
        )
    # In the lazy path ew/node_frame STAY marked for caching: the one
    # final action references them once per iteration and the cache
    # turns iters edge scans into one. They materialize only when the
    # caller's action runs; spark.catalog.clearCache() reclaims them.
    return ranks


def centrality_canonical(
    pairs: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per near-dup component, the PageRank-central member as canonical:
    ``(node, component, rank, is_canonical)``.

    Composes the package's two graph passes: ``dedup.dup_components``
    labels each connected component (min-label propagation) and
    PageRank over the SYMMETRIZED pair graph scores members; the
    component's max-rank node (ties → min id) is the exemplar to keep.
    Both passes are edge-list shuffles — nothing is collected."""
    from zx_spark.operators.dedup import dup_components

    a, b = F.col(f"`{id_a}`"), F.col(f"`{id_b}`")
    sym = pairs.select(a.alias("src"), b.alias("dst")).unionByName(
        pairs.select(b.alias("src"), a.alias("dst"))
    )
    pr = pagerank(sym, damping=damping, iters=iters)
    comp = dup_components(pairs, id_a=id_a, id_b=id_b).select(
        F.col("doc_id").alias("node"), "component"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col("rank").desc(), F.col("node")
    )
    return (
        pr.join(comp, "node")
        .withColumn("is_canonical", F.row_number().over(w) == 1)
        .select("node", "component", "rank", "is_canonical")
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle participation over an UNDIRECTED graph →
    ``(node, triangles, degree, clustering)``.

    Input edges are treated as undirected (symmetrized, self-loops and
    duplicates dropped). ``clustering`` is the local clustering
    coefficient ``2T / (deg·(deg−1))`` (NULL for degree < 2) — the
    standard cohesion score: near-dup pair graphs with high clustering
    are tight paraphrase cliques; low clustering flags chain-shaped
    (template-drift) duplication that min-hash components alone can't
    distinguish.

    Distributed shape (the classic degree-ordered closure — Suri &
    Vassilvitskii 2011 "Counting Triangles and the Curse of the Last
    Reducer"):

    - Every undirected edge is ORIENTED from its (degree, id)-smaller
      endpoint to the larger. Each triangle then has exactly ONE wedge
      node with two outgoing oriented edges, so wedges are enumerated
      once, and per-node oriented out-degree is bounded by O(√m) on any
      graph — hub nodes never fan out degree² wedge candidates.
    - Wedge generation is ONE self-join of the oriented edge list on
      the wedge node; closure is ONE semi-shaped inner join of wedge
      endpoints against the oriented edges. Both are hash equi-joins;
      shuffle ∝ edges + wedges (wedges ∝ m^{3/2} worst case — the
      sequential lower bound, nothing extra).
    - Per-corner attribution: each closed triangle (a, b, c) credits
      all three corners via one explode — aggregation is a node-keyed
      count with map-side combine.
    - The canonical and oriented edge frames are marked for caching —
      each is referenced by several branches of the ONE returned plan,
      so the cache turns repeated edge derivations into one. Like
      pagerank's lazy path they stay marked after return (they
      materialize only under the caller's action);
      ``spark.catalog.clearCache()`` reclaims them between calls in a
      long-lived session.
    """
    s, d = F.col(f"`{src_col}`"), F.col(f"`{dst_col}`")
    und = (
        edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
        .select(
            F.least(s, d).alias("__a"), F.greatest(s, d).alias("__b")
        )
        .distinct()
        .persist()  # referenced by degrees, orientation and closure
    )
    deg = (
        und.select(F.col("__a").alias("node"))
        .unionByName(und.select(F.col("__b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient by (degree, node): strictly increasing along every edge
    ranked = (
        und.join(deg.withColumnRenamed("node", "__a").withColumnRenamed("degree", "__da"), "__a")
        .join(deg.withColumnRenamed("node", "__b").withColumnRenamed("degree", "__db"), "__b")
    )
    fwd = F.struct(F.col("__da"), F.col("__a")) < F.struct(F.col("__db"), F.col("__b"))
    oriented = ranked.select(
        F.when(fwd, F.col("__a")).otherwise(F.col("__b")).alias("lo"),
        F.when(fwd, F.col("__b")).otherwise(F.col("__a")).alias("hi"),
    ).persist()
    # wedges: two oriented edges out of the same wedge node
    w1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("y"))
    wedges = w1.join(w2, "w").filter(F.col("x") < F.col("y"))  # each wedge once
    # closure: wedge endpoints are already id-ordered (x < y), so they
    # equi-join the canonical (min-id, max-id) undirected edge list
    # directly — a HASH join (an either-orientation OR condition would
    # force a nested loop)
    closed = wedges.join(
        und.select(F.col("__a").alias("x"), F.col("__b").alias("y")),
        ["x", "y"],
    ).select("w", "x", "y")
    per_node = (
        closed.select(F.explode(F.array("w", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        "degree",
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0)
            * F.coalesce(F.col("triangles"), F.lit(0))
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
        ).alias("clustering"),
    )
    return out
