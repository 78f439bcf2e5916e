"""PageRank (operators/graph.py): numpy-twin parity, closed-form checks,
dangling/weighted/isolated handling, early-stop, and the
centrality-canonical composition with dup_components."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import count_jobs


def _numpy_pagerank(edges, n_nodes, damping, iters, weights=None, node_ids=None,
                    seeds=None):
    """Independent power-iteration twin, same formula as the operator:
    r' = (1-d)·t + d*(sum contrib + dangling_mass·t), t uniform or
    concentrated on seeds."""
    nodes = sorted(node_ids) if node_ids is not None else sorted(
        {u for u, _ in edges} | {v for _, v in edges}
    )
    if seeds is not None:
        nodes = sorted(set(nodes) | set(seeds))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    tp = np.full(n, 1.0 / n)
    if seeds is not None:
        tp = np.zeros(n)
        for sd in seeds:
            tp[idx[sd]] = 1.0 / len(seeds)
    w = weights if weights is not None else [1.0] * len(edges)
    out_w = np.zeros(n)
    for (u, _), ww in zip(edges, w):
        out_w[idx[u]] += ww
    r = tp.copy()
    for _ in range(iters):
        m = np.zeros(n)
        for (u, v), ww in zip(edges, w):
            if weights is not None:
                m[idx[v]] += r[idx[u]] * ww / out_w[idx[u]]
            else:
                m[idx[v]] += r[idx[u]] / out_w[idx[u]]
        dm = r[out_w == 0].sum()
        r = (1.0 - damping) * tp + damping * (m + dm * tp)
    return dict(zip(nodes, r))


def _edges_df(spark, edges, weights=None):
    if weights is not None:
        return spark.createDataFrame(
            [(u, v, w) for (u, v), w in zip(edges, weights)],
            "src long, dst long, w double",
        )
    return spark.createDataFrame(edges, "src long, dst long")


def test_cycle_graph_is_uniform(spark):
    """On a directed n-cycle every node is structurally identical —
    ranks must be exactly 1/n at every iteration."""
    from zx_spark.operators.graph import pagerank

    n = 7
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=4).collect()}
    assert len(got) == n
    for v in got.values():
        assert abs(v - 1.0 / n) < 1e-12


def test_matches_numpy_twin_random_graph(spark):
    """Seeded random digraph with a dangling node and a hub — operator
    equals the independent numpy power iteration to fp noise."""
    from zx_spark.operators.graph import pagerank

    rng = np.random.RandomState(42)
    n = 40
    edges = sorted({
        (int(rng.randint(0, n)), int(rng.randint(0, n)))
        for _ in range(120)
    })
    edges = [(u, v) for u, v in edges if u != v and u != 39]  # 39 dangles
    edges += [(i, 0) for i in range(1, 6)]  # node 0 is a hub
    edges = sorted(set(edges))
    want = _numpy_pagerank(edges, n, 0.85, 6)
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=6).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    assert got[0] > 1.0 / n  # the added in-edges lift the hub above uniform


def test_weighted_matches_numpy_twin(spark):
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1)]
    weights = [3.0, 1.0, 2.0, 5.0]
    want = _numpy_pagerank(edges, 3, 0.85, 5, weights=weights)
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges, weights), weight_col="w", iters=5).collect()}
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    # weight 3 edge pulls more mass to 2 than unweighted would
    unw = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=5).collect()}
    assert got[2] > unw[2]


def test_isolated_node_via_nodes_param(spark):
    """A node with no edges at all still receives teleport + dangling
    redistribution mass (it IS dangling: no out-edges)."""
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1)]
    nodes = spark.createDataFrame([(1,), (2,), (99,)], "node long")
    want = _numpy_pagerank(edges, 3, 0.85, 4, node_ids=[1, 2, 99])
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), nodes=nodes, iters=4).collect()}
    assert set(got) == {1, 2, 99}
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    assert got[99] < got[1]


def test_tol_early_stop_converges(spark):
    """With tol set, the loop stops early and lands within tol-ish of
    the long-run fixed point."""
    from zx_spark.operators.graph import pagerank

    edges = [(i, (i + 1) % 5) for i in range(5)] + [(0, 2), (3, 1)]
    df = _edges_df(spark, edges)
    fixed = {r["node"]: r["rank"] for r in pagerank(df, iters=60).collect()}
    early = {r["node"]: r["rank"] for r in pagerank(
        df, iters=60, tol=1e-10).collect()}
    for k in fixed:
        assert abs(early[k] - fixed[k]) < 1e-8, k


def test_validates_args_and_nulls(spark):
    from zx_spark.operators.graph import pagerank

    df = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)
    # a NULL endpoint drops the whole edge; a node mentioned only by
    # NULL edges is absent unless supplied via nodes=
    withnull = spark.createDataFrame(
        [(1, 2), (2, 1), (None, 3), (3, None)], "src long, dst long"
    )
    got = {r["node"] for r in pagerank(withnull, iters=2).collect()}
    assert got == {1, 2}
    nodes = spark.createDataFrame([(3,)], "node long")
    got = {r["node"] for r in pagerank(withnull, nodes=nodes, iters=2).collect()}
    assert got == {1, 2, 3}


def test_centrality_canonical_picks_hub_per_component(spark):
    """Two components: a star (center 10) and a pair. The star center
    must be canonical; exactly one canonical per component."""
    from zx_spark.operators.graph import centrality_canonical

    pairs = spark.createDataFrame(
        [(10, 11), (10, 12), (10, 13), (50, 51)], "id_a long, id_b long"
    )
    rows = centrality_canonical(pairs, iters=8).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    assert set(by_comp) == {10, 50}
    star = {r["node"]: r for r in by_comp[10]}
    assert star[10]["is_canonical"] and star[10]["rank"] == max(
        r["rank"] for r in by_comp[10]
    )
    assert sum(r["is_canonical"] for r in by_comp[10]) == 1
    assert sum(r["is_canonical"] for r in by_comp[50]) == 1


def test_pagerank_matches_duckdb_unrolled_cte(spark):
    """Cross-engine pin: 3 unrolled power iterations in DuckDB equal the
    operator on the same seeded graph (the construction the driver's
    `pr` arm oracle uses)."""
    import duckdb

    from zx_spark.operators.graph import pagerank

    rng = np.random.RandomState(7)
    edges = sorted({(int(rng.randint(0, 20)), int(rng.randint(0, 20)))
                    for _ in range(60)})
    edges = [(u, v) for u, v in edges if u != v]
    got = {
        r["node"]: round(r["rank"], 6)
        for r in pagerank(_edges_df(spark, edges), iters=3).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    step = (
        "SELECT n.node, (1.0-0.85)/(SELECT n FROM nn) + 0.85*("
        "coalesce(s.m, 0.0) + (SELECT dm FROM {dm}) / (SELECT n FROM nn)) AS r "
        "FROM nodes n LEFT JOIN (SELECT e.dst AS node, sum(p.r/od.od) AS m "
        "FROM e JOIN {prev} p ON p.node = e.src JOIN od ON od.src = e.src "
        "GROUP BY e.dst) s USING (node)"
    )
    dang = (
        "SELECT coalesce(sum(p.r), 0.0) AS dm FROM {prev} p "
        "LEFT JOIN od ON od.src = p.node WHERE od.src IS NULL"
    )
    sql = (
        "WITH nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        "nn AS (SELECT count(*)::double AS n FROM nodes), "
        "od AS (SELECT src, count(*)::double AS od FROM e GROUP BY src), "
        "pr0 AS MATERIALIZED (SELECT node, 1.0/(SELECT n FROM nn) AS r FROM nodes), "
        + ", ".join(
            f"dm{t} AS MATERIALIZED ({dang.format(prev=f'pr{t}')}), "
            f"pr{t + 1} AS MATERIALIZED ("
            + step.format(prev=f"pr{t}", dm=f"dm{t}")
            + ")"
            for t in range(3)
        )
        + " SELECT node, round(r, 6) FROM pr3"
    )
    want = dict(con.sql(sql).fetchall())
    assert got == want


def test_personalized_matches_numpy_twin(spark):
    """Seeded teleport: ranks concentrate around the seed set and match
    the numpy twin; dangling mass returns to the seeds, not uniformly."""
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]  # 5 dangles
    want = _numpy_pagerank(edges, 5, 0.85, 6, seeds=[1])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), seeds=seeds, iters=6).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # proximity ordering: the seed and its successor outrank the far tail
    assert got[1] > got[4] and got[2] > got[5]
    # a non-seed node with no in-edges gets rank 0 mass only via teleport -> 0
    # (node 5's only mass arrives through 4 -> 5)
    assert got[5] > 0.0


def test_personalized_seed_outside_edges_and_validation(spark):
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1)]
    # a seed not mentioned by any edge joins the node set (and dangles)
    seeds = spark.createDataFrame([(9,)], "node long")
    want = _numpy_pagerank(edges, 3, 0.85, 4, seeds=[9])
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), seeds=seeds, iters=4).collect()}
    assert set(got) == {1, 2, 9}
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    assert got[9] == max(got.values())
    with pytest.raises(ValueError, match="seeds"):
        pagerank(
            _edges_df(spark, edges),
            seeds=spark.createDataFrame([], "node long"),
            iters=2,
        )


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=20,
    ),
    damping=st.sampled_from([0.5, 0.85, 0.95]),
    iters=st.integers(1, 4),
    seeded=st.booleans(),
)
def test_property_matches_twin(spark, edges, damping, iters, seeded):
    """Any random small digraph (self-loops, dups, dangling, multi-
    edges deduped), any damping/iters, seeded or not — operator equals
    the numpy twin and conserves mass."""
    from zx_spark.operators.graph import pagerank

    edges = sorted({(u, v) for u, v in edges if u != v})
    if not edges:
        return
    seeds_list = [edges[0][0]] if seeded else None
    want = _numpy_pagerank(edges, 8, damping, iters, seeds=seeds_list)
    seeds_df = (
        spark.createDataFrame([(s,) for s in seeds_list], "node long")
        if seeds_list
        else None
    )
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), damping=damping, iters=iters, seeds=seeds_df
    ).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-10, (k, damping, iters, seeded)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _brute_triangles(edges):
    """Python twin: per-node triangle counts over the undirected simple
    graph."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # enumerate each triangle once as a sorted triple, credit 3 corners
    tri = {v: 0 for v in adj}
    seen = set()
    for a, b in und:
        for c in adj[a] & adj[b]:
            t = tuple(sorted((a, b, c)))
            if t not in seen:
                seen.add(t)
                for v in t:
                    tri[v] += 1
    deg = {v: len(ns) for v, ns in adj.items()}
    return {
        v: (
            tri[v],
            deg[v],
            (2.0 * tri[v] / (deg[v] * (deg[v] - 1))) if deg[v] >= 2 else None,
        )
        for v in adj
    }


def test_triangles_k4_and_square(spark):
    """K4: every node in 3 triangles, clustering 1.0. A 4-cycle: zero
    triangles, clustering 0.0."""
    from zx_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(k4, "src long, dst long")).collect()}
    for v in range(4):
        assert got[v]["triangles"] == 3 and got[v]["degree"] == 3
        assert abs(got[v]["clustering"] - 1.0) < 1e-12
    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(square, "src long, dst long")).collect()}
    for v in range(4):
        assert got[v]["triangles"] == 0 and got[v]["clustering"] == 0.0
    spark.catalog.clearCache()


def test_triangles_match_brute_force_random(spark):
    """Seeded random graph (dups, self-loops, both orientations) equals
    the python twin exactly."""
    from zx_spark.operators.graph import triangle_counts

    rng = np.random.RandomState(11)
    edges = [(int(rng.randint(0, 25)), int(rng.randint(0, 25)))
             for _ in range(160)]
    want = _brute_triangles(edges)
    got = {r["node"]: (r["triangles"], r["degree"], r["clustering"])
           for r in triangle_counts(
               spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert set(got) == set(want)
    for v, (t, dg, c) in want.items():
        gt, gd, gc = got[v]
        assert (gt, gd) == (t, dg), v
        if c is None:
            assert gc is None
        else:
            assert abs(gc - c) < 1e-12
    # global invariant: sum of corner counts = 3 x triangle count
    assert sum(t for t, _, _ in got.values()) % 3 == 0
    spark.catalog.clearCache()


def test_triangles_match_duckdb(spark):
    """Cross-engine: per-node counts equal a DuckDB 3-way join."""
    import duckdb

    from zx_spark.operators.graph import triangle_counts

    rng = np.random.RandomState(3)
    edges = sorted({(int(rng.randint(0, 15)), int(rng.randint(0, 15)))
                    for _ in range(60)})
    edges = [e for e in edges if e[0] != e[1]]
    got = {r["node"]: r["triangles"] for r in triangle_counts(
        spark.createDataFrame(edges, "src long, dst long")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e0 (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e0 VALUES (?, ?)", edges)
    rows = con.sql(
        "WITH und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b FROM e0 WHERE src != dst), "
        "tri AS (SELECT e1.a x, e1.b y, e2.b z FROM und e1 "
        " JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b "
        " JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b), "
        "corners AS (SELECT unnest([x, y, z]) node FROM tri) "
        "SELECT node, count(*) FROM corners GROUP BY node"
    ).fetchall()
    want = dict(rows)
    for v, t in got.items():
        assert want.get(v, 0) == t, v
    spark.catalog.clearCache()


def test_triangles_plan_is_hash_joins(spark):
    from zx_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    plan = triangle_counts(edges)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_weighted_pagerank_zero_and_null_weights(spark):
    """r7 s2 review: a zero/NULL weight is NO edge — it must neither
    produce NaN ranks (0/0 out-weight) nor silently leak mass (NULL
    out-weight); a source left with only bad edges becomes dangling and
    mass is conserved."""
    from zx_spark.operators.graph import pagerank

    rows = [(1, 2, 0.0), (1, 3, None), (2, 3, 2.0), (3, 2, 1.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {r["node"]: r["rank"] for r in pagerank(
        df, weight_col="w", iters=4).collect()}
    # node 1 has no valid edges at all -> absent (like NULL endpoints)
    assert set(got) == {2, 3}
    assert all(v == v for v in got.values())  # no NaN
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    want = _numpy_pagerank([(2, 3), (3, 2)], 2, 0.85, 4,
                           weights=[2.0, 1.0])
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k


# ----------------------------------------------- dangling='collect' (r8)


def _numpy_pagerank_sink(edges, damping, iters, sink=-1, seeds=None):
    """Twin of dangling='collect': augment (dangling -> sink, sink ->
    teleport targets), run the standard power iteration on the
    dangling-free graph, drop the sink, renormalize survivors."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    srcs = {u for u, _ in edges}
    dang = [u for u in nodes if u not in srcs]
    tgt = seeds if seeds is not None else nodes
    aug = list(edges) + [(u, sink) for u in dang] + [(sink, v) for v in tgt]
    r = _numpy_pagerank(aug, None, damping, iters,
                        node_ids=nodes + [sink], seeds=seeds)
    tot = sum(v for k, v in r.items() if k != sink)
    return {k: v / tot for k, v in r.items() if k != sink}


def test_collect_mode_matches_sink_twin(spark):
    from zx_spark.operators.graph import pagerank

    rng = np.random.RandomState(7)
    n = 30
    edges = sorted({
        (int(rng.randint(0, n)), int(rng.randint(0, n))) for _ in range(80)
    })
    edges = [(u, v) for u, v in edges if u != v and u not in (28, 29)]
    edges = sorted(set(edges))  # 28, 29 dangle (if referenced as dst)
    want = _numpy_pagerank_sink(edges, 0.85, 6)
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=6, dangling="collect", sink_node=-1
    ).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k
    assert abs(sum(got.values()) - 1.0) < 1e-9  # renormalized


def test_collect_mode_no_dangling_identical_to_redistribute(spark):
    """With no dangling nodes the augmentation never happens — the two
    modes must return bit-identical ranks."""
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 2)]
    a = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=5).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=5, dangling="collect", sink_node=-1
    ).collect()}
    assert a == b


def test_collect_mode_seeded_matches_twin(spark):
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 4)]  # 4 dangles
    seeds = [1, 2]
    want = _numpy_pagerank_sink(edges, 0.85, 5, seeds=seeds)
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["rank"] for r in pagerank(
        _edges_df(spark, edges), iters=5, seeds=sdf,
        dangling="collect", sink_node=-1,
    ).collect()}
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_collect_mode_validates(spark):
    from zx_spark.operators.graph import pagerank

    df = _edges_df(spark, [(1, 2)])  # 2 dangles
    with pytest.raises(ValueError, match="sink_node"):
        pagerank(df, iters=1, dangling="collect").count()
    with pytest.raises(ValueError, match="already a graph node"):
        pagerank(df, iters=1, dangling="collect", sink_node=2).count()
    with pytest.raises(ValueError, match="dangling mode"):
        pagerank(df, iters=1, dangling="drop")


def test_collect_mode_stays_lazy(spark):
    """The point of the sink collector: a dangling graph's loop must
    run NO per-iteration Spark jobs — extra iterations add zero jobs at
    build time (the redistribute path runs ~7/iteration)."""
    from zx_spark.operators.graph import pagerank

    edges = [(i, i + 1) for i in range(40)]  # node 40 dangles
    df = _edges_df(spark, edges).cache()
    df.count()

    def build_jobs(iters):
        # checkpoint_every > iters: the periodic LAZY checkpoint
        # materializes the accumulated AQE stages in a batch when it
        # fires (pre-existing lazy-path behavior, batched rather than
        # per-iteration) — park it so this measures the loop itself
        return count_jobs(spark, f"pr_lazy_{iters}", lambda: pagerank(
            df, iters=iters, dangling="collect", sink_node=-1,
            checkpoint_every=100))[0]

    j1, j8 = build_jobs(1), build_jobs(8)
    assert j8 == j1, (j1, j8)  # setup jobs only — none per iteration
    df.unpersist()


def test_setup_probe_job_count(spark):
    """Construction on a symmetric graph (no dangling node, lazy loop)
    runs only the setup probe: the node frame and its has-out-edge flag
    come from ONE aggregation over the edges, and the node and dangling
    counts from one action over it. The result still matches the twin."""
    from zx_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 4)]
    edges += [(v, u) for u, v in edges]
    df = _edges_df(spark, edges).cache()
    df.count()
    jobs, pr = count_jobs(spark, "pr_setup", lambda: pagerank(df, iters=5))
    # 5 jobs before the one-pass probe (distinct over the edge union,
    # left join to the out-degree keys); 4 measured with it
    assert jobs <= 4, jobs
    want = _numpy_pagerank(edges, 4, 0.85, 5)
    got = {r["node"]: r["rank"] for r in pr.collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    df.unpersist()
