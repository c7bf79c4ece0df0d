"""Integer fixed-point PageRank: reference equivalence, determinism,
structure sensitivity, mass accounting."""

from __future__ import annotations

from bonobo_sqlalchemy_spark.operators.graphalgo import (
    _DAMP_DEN,
    _DAMP_NUM,
    pagerank_integer,
)

SCALE = 10**12


def _reference(edges, iters=6, scale=SCALE):
    """Pure-Python mirror of the integer recurrence (the same role the
    DuckDB CTE chain plays in the oracle)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, d in edges:
            inc[d] += r[s] // outdeg[s]
        r = {v: (3 * scale) // (20 * n) + (_DAMP_NUM * inc[v]) // _DAMP_DEN for v in nodes}
    return r


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_pagerank_matches_python_reference(spark):
    edges = _sym([(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_integer(df, iters=6).collect()}
    assert got == _reference(edges, iters=6)


def test_pagerank_keeps_zero_indegree_nodes(spark):
    """Pinned node contract (r13 VERDICT #2 / ADVICE): on a RAW DIRECTED
    graph, a node with out-edges but no in-edges (node 3 here) must stay in
    the output holding exactly the base term each round, and its base-mass
    contribution must keep flowing to its neighbors — the recurrence
    re-anchors on the node frame, like the personalized variant."""
    edges = [(1, 2), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_integer(df, iters=6).collect()}
    ref = _reference(edges, iters=6)
    assert set(got) == {1, 2, 3}
    assert got == ref
    # node 3 receives nothing: its rank is the bare base term
    assert got[3] == (3 * SCALE) // (20 * 3)


def test_pagerank_dangling_node_keeps_rank_but_leaks_mass(spark):
    """A terminal node (in-edges, no out-edges) keeps its rank in the
    output; its damped mass leaks per the documented caller-owned
    dangling policy. The Python reference implements the same recurrence,
    so the leak is bit-consistent, not an engine divergence."""
    edges = [(1, 2), (1, 3), (2, 3)]  # 3 is a sink
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_integer(df, iters=4).collect()}
    assert got == _reference(edges, iters=4)
    assert got[3] > got[2] > 0  # the sink accumulates, never re-emits


def test_pagerank_checkpoint_interval_value_invariant(spark):
    """The checkpoint cadence is an execution knob, not a semantic one:
    interval 1 / 2 / iters produce bit-identical ranks, for the uniform
    and the personalized operator."""
    from bonobo_sqlalchemy_spark.operators.graphalgo import (
        pagerank_personalized_integer,
    )

    edges = [(1, 2), (2, 1), (3, 1), (1, 3), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1,), (4,)], "node long")
    for run, ref in (
        (
            lambda k: pagerank_integer(df, iters=5, checkpoint_interval=k),
            _reference(edges, iters=5),
        ),
        (
            lambda k: pagerank_personalized_integer(
                df, sd, iters=5, checkpoint_interval=k
            ),
            _reference_ppr(edges, [1, 4], iters=5),
        ),
    ):
        outs = [{r.node: r.rank for r in run(k).collect()} for k in (1, 2, 5)]
        assert outs[0] == outs[1] == outs[2] == ref


def test_pagerank_shuffle_join_leg_matches_broadcast_leg(spark):
    """broadcast_ranks=False (the billion-node fallback) runs the same
    recurrence through shuffle joins — values must be bit-identical, for
    the uniform and the personalized operator."""
    from bonobo_sqlalchemy_spark.operators.graphalgo import (
        pagerank_personalized_integer,
    )

    edges = _sym([(i, (i * 3) % 17) for i in range(17)]) + [(20, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r.node: r.rank for r in pagerank_integer(df, iters=4).collect()}
    b = {r.node: r.rank for r in pagerank_integer(df, iters=4, broadcast_ranks=False).collect()}
    assert a == b == _reference(edges, iters=4)
    sd = spark.createDataFrame([(0,), (5,)], "node long")
    c = {r.node: r.rank for r in pagerank_personalized_integer(df, sd, iters=4).collect()}
    d = {
        r.node: r.rank
        for r in pagerank_personalized_integer(
            df, sd, iters=4, broadcast_ranks=False
        ).collect()
    }
    assert c == d == _reference_ppr(edges, [0, 5], iters=4)


def test_pagerank_weighted_equals_exploded_multigraph(spark):
    """weight_col (r14): a pre-aggregated (src, dst, w) edge list is
    exactly w parallel edges — bit-identical ranks, because the
    per-source floor division precedes the weight multiplication. This is
    the contract that lets z_events_markov_rank cache one row per
    distinct transition instead of one per observed transition."""
    multi = [(1, 2), (1, 2), (1, 2), (2, 1), (2, 3), (2, 3), (3, 1), (4, 1), (4, 1)]
    from collections import Counter

    agg = [(s, d, w) for (s, d), w in Counter(multi).items()]
    dm = spark.createDataFrame(multi, "src long, dst long")
    da = spark.createDataFrame(agg, "src long, dst long, w long")
    rm = {r.node: r.rank for r in pagerank_integer(dm, iters=6).collect()}
    ra = {r.node: r.rank for r in pagerank_integer(da, iters=6, weight_col="w").collect()}
    assert rm == ra == _reference(multi, iters=6)


def test_pagerank_partitioning_bit_exact(spark):
    edges = _sym([(i, (i * 7) % 23) for i in range(23)] + [(i, (i + 1) % 23) for i in range(23)])
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r.node: r.rank for r in pagerank_integer(df, iters=5).collect()}
    b = {r.node: r.rank for r in pagerank_integer(df.repartition(11), iters=5).collect()}
    assert a == b


def test_pagerank_hub_dominates_star(spark):
    """Symmetric star: the hub must out-rank every leaf."""
    edges = _sym([(0, i) for i in range(1, 12)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_integer(df, iters=8).collect()}
    hub = got[0]
    assert all(hub > v for k, v in got.items() if k != 0)
    # leaves are symmetric — identical ranks
    assert len({v for k, v in got.items() if k != 0}) == 1


def test_pagerank_mass_accounting(spark):
    """Total rank stays within the floor-leak bound of the damped fixed
    point (1 unit per node per division, per iteration)."""
    edges = _sym([(i, (i + 1) % 9) for i in range(9)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = pagerank_integer(df, iters=6).collect()
    total = sum(r.rank for r in got)
    # on a regular graph the fixed point conserves ~scale
    assert abs(total - SCALE) < 9 * 6 * 4  # nodes * iters * slop
    assert all(r.rank > 0 for r in got)


def test_pagerank_plan_is_jvm_side(spark):
    """The whole 6-round computation is one declarative plan: no Python
    workers, no cartesian products."""
    edges = _sym([(i, (i + 1) % 9) for i in range(9)])
    df = spark.createDataFrame(edges, "src long, dst long")
    plan = pagerank_integer(df, iters=3)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def _reference_ppr(edges, seeds, iters=6, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    seeds = set(seeds)
    ns = len(seeds)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: (scale // ns if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, d in edges:
            inc[d] += r[s] // outdeg[s]
        r = {
            v: ((3 * scale) // (20 * ns) if v in seeds else 0)
            + (_DAMP_NUM * inc[v]) // _DAMP_DEN
            for v in nodes
        }
    return r


def test_ppr_matches_python_reference(spark):
    from bonobo_sqlalchemy_spark.operators.graphalgo import (
        pagerank_personalized_integer,
    )

    edges = _sym([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1), (2, 5)])
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.rank for r in pagerank_personalized_integer(df, sd, iters=6).collect()}
    assert got == _reference_ppr(edges, [1], iters=6)


def test_ppr_proximity_ordering_on_a_path(spark):
    """On a symmetric path seeded at one end, rank decays with distance
    from the seed among non-seed nodes once the walk has mixed (short
    horizons show parity oscillation at the tail; the seed itself can sit
    below its neighbor, which receives the seed's ENTIRE out-mass). This
    decay is the property that makes PPR a seed-proximity selector."""
    from bonobo_sqlalchemy_spark.operators.graphalgo import (
        pagerank_personalized_integer,
    )

    edges = _sym([(i, i + 1) for i in range(6)])
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.rank for r in pagerank_personalized_integer(df, sd, iters=24).collect()}
    ranks = [got[i] for i in range(1, 7)]  # distances 1..6
    assert all(a > b for a, b in zip(ranks, ranks[1:]))
    assert got[0] > got[2]  # seed still dominates everything past d=1


def test_ppr_nonseed_holds_mass_only_through_proximity(spark):
    """A node disconnected from the seed component ends at rank 0."""
    from bonobo_sqlalchemy_spark.operators.graphalgo import (
        pagerank_personalized_integer,
    )

    edges = _sym([(1, 2), (2, 3)]) + _sym([(10, 11)])
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.rank for r in pagerank_personalized_integer(df, sd, iters=8).collect()}
    assert got[10] == 0 and got[11] == 0
    assert got[1] > got[2] > 0


def test_pagerank_empty_edges_yields_empty_ranks(spark):
    """No edges -> no nodes -> empty result (no division-by-zero path is
    ever evaluated; the scalar n broadcast has zero rows to cross into)."""
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank_integer(df, iters=3).count() == 0


# ---------------------------------------------------------------------------
# Triangle counting (round 14)
# ---------------------------------------------------------------------------

from bonobo_sqlalchemy_spark.operators.graphalgo import (  # noqa: E402
    kcore_peel,
    triangle_counts,
)


def _tri_reference(pairs, lcc_scale=10**6):
    """Brute-force per-node triangle counts + integer lcc over the
    undirected simple graph induced by ``pairs``."""
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = {n: 0 for n in adj}
    # per edge, credit the OPPOSITE corner: triangle (a,b,c) is credited
    # to c by (a,b), to b by (a,c), to a by (b,c) — each corner once
    for u, v in und:
        for w in adj[u] & adj[v]:
            tri[w] += 1
    out = {}
    for n, d in ((n, len(s)) for n, s in adj.items()):
        t = tri[n]
        lcc = (2 * t * lcc_scale) // (d * (d - 1)) if d >= 2 else 0
        out[n] = (t, d, lcc)
    return out


def test_triangles_match_bruteforce_reference(spark):
    pairs = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5), (5, 3),          # second triangle sharing node 3
        (5, 6), (6, 7),                  # a path (no triangle)
        (1, 4),                          # bridge creating NO new triangle
    ]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.node: (r.tri, r.deg, r.lcc_micro)
        for r in triangle_counts(df).collect()
    }
    assert got == _tri_reference(pairs)


def test_triangles_input_canonicalization(spark):
    """Duplicated edges, reversed direction, and self-loops do not change
    the result: the operator works on the induced simple undirected
    graph."""
    base = [(1, 2), (2, 3), (1, 3)]
    messy = base + [(2, 1), (3, 2), (1, 1), (1, 2), (3, 1)]
    d1 = spark.createDataFrame(base, "src long, dst long")
    d2 = spark.createDataFrame(messy, "src long, dst long")
    r1 = {r.node: (r.tri, r.deg, r.lcc_micro) for r in triangle_counts(d1).collect()}
    r2 = {r.node: (r.tri, r.deg, r.lcc_micro) for r in triangle_counts(d2).collect()}
    assert r1 == r2 == {1: (1, 2, 10**6), 2: (1, 2, 10**6), 3: (1, 2, 10**6)}


def test_triangles_skewed_hub(spark):
    """A star hub (degree 40, zero triangles) plus an attached clique:
    the hub's lcc is 0 despite its degree — the orientation must not
    lose or duplicate any clique triangle around it."""
    star = [(0, i) for i in range(1, 41)]
    clique = [(1, 2), (1, 3), (2, 3)]  # K4 with the hub: {0,1,2,3} via star edges
    df = spark.createDataFrame(star + clique, "src long, dst long")
    got = {r.node: (r.tri, r.deg) for r in triangle_counts(df).collect()}
    ref = _tri_reference(star + clique)
    assert got == {n: (t, d) for n, (t, d, _) in ref.items()}
    # hub participates in the 3 triangles of the K4 it closes with 1,2,3
    assert got[0] == (3, 40)


def test_triangles_sql_twin_matches(spark):
    """The DuckDB CTE twin reproduces the Spark result bit-for-bit on a
    random-ish deterministic graph."""
    import duckdb

    pairs = [((i * 7) % 23, (i * 11 + 3) % 23) for i in range(60)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted(
        (r.node, r.tri, r.deg, r.lcc_micro) for r in triangle_counts(df).collect()
    )
    from bonobo_sqlalchemy_spark.operators.graphalgo import triangle_counts_sql

    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    sql = triangle_counts_sql(f"SELECT * FROM (VALUES {values}) AS t(src, dst)")
    ref = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == ref


# ---------------------------------------------------------------------------
# k-core peeling (round 14)
# ---------------------------------------------------------------------------


def _kcore_reference(pairs, k, rounds):
    """Pure-Python fixed-round peel: returns {node: final degree}."""
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    for _ in range(rounds):
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return deg


def test_kcore_matches_reference_and_reaches_fixpoint(spark):
    # a 4-clique (3-core) + a pendant path that peels away + a triangle
    pairs = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4
        + [(4, 5), (5, 6)]                                  # pendant path
        + [(7, 8), (8, 9), (7, 9)]                          # triangle (2-core)
    )
    df = spark.createDataFrame(pairs, "src long, dst long")
    got3 = {r.node: r.deg_final for r in kcore_peel(df, k=3, rounds=4).collect()}
    assert got3 == _kcore_reference(pairs, 3, 4) == {1: 3, 2: 3, 3: 3, 4: 3}
    got2 = {r.node: r.deg_final for r in kcore_peel(df, k=2, rounds=4).collect()}
    assert got2 == _kcore_reference(pairs, 2, 4)
    assert {7, 8, 9} <= set(got2)
    # fixed-round contract: one more round changes nothing (fixpoint)
    got3b = {r.node: r.deg_final for r in kcore_peel(df, k=3, rounds=5).collect()}
    assert got3b == got3


def test_kcore_cascade_needs_multiple_rounds(spark):
    """A chain of triangles sharing vertices peels layer by layer under
    k=3 — asserting intermediate rounds differ proves the loop actually
    iterates rather than filtering once."""
    # path graph: every interior node has degree 2 -> k=2 keeps nothing
    # only after BOTH endpoints' edges cascade away
    pairs = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    r1 = {r.node: r.deg_final for r in kcore_peel(df, k=2, rounds=1).collect()}
    r8 = {r.node: r.deg_final for r in kcore_peel(df, k=2, rounds=8).collect()}
    assert r1 == _kcore_reference(pairs, 2, 1)
    assert r8 == _kcore_reference(pairs, 2, 8) == {}
    assert r1 != r8  # the cascade is real


def test_kcore_sql_twin_matches(spark):
    import duckdb

    from bonobo_sqlalchemy_spark.operators.graphalgo import kcore_peel_sql

    pairs = [((i * 5) % 17, (i * 3 + 1) % 17) for i in range(40)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted((r.node, r.deg_final) for r in kcore_peel(df, k=3, rounds=3).collect())
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    sql = kcore_peel_sql(f"SELECT * FROM (VALUES {values}) AS t(src, dst)", k=3, rounds=3)
    ref = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == ref


# ---------------------------------------------------------------------------
# Label propagation (round 14)
# ---------------------------------------------------------------------------

from bonobo_sqlalchemy_spark.operators.graphalgo import (  # noqa: E402
    label_propagation,
    label_propagation_sql,
)


def _lp_reference(edges, seeds, rounds):
    """Pure-Python clamped modal recurrence (ties to smallest label)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    seed = {}
    for n, l in seeds:
        seed[n] = min(seed.get(n, l), l)
    lbl = {n: seed.get(n) for n in nodes}
    for _ in range(rounds):
        cnt = {}
        for s, d in edges:
            if lbl.get(s) is not None:
                cnt.setdefault(d, {}).setdefault(lbl[s], 0)
                cnt[d][lbl[s]] += 1
        new = {}
        for n in nodes:
            if n in seed:
                new[n] = seed[n]
            elif n in cnt:
                new[n] = min(
                    (l for l, c in cnt[n].items() if c == max(cnt[n].values()))
                )
            else:
                # recomputed from scratch each round, like the operator;
                # labeled-ness is monotone (a labeled in-neighbor stays
                # labeled), so an already-labeled node never lands here
                new[n] = None
        lbl = new
    return lbl


def test_labelprop_matches_python_reference(spark):
    # two seed camps (labels 10 and 20) on a barbell graph; the bridge
    # node 5 sees both camps — modal tie broken to the SMALLER label
    pairs = [(1, 2), (2, 3), (1, 3), (3, 5), (5, 6), (6, 7), (7, 8), (6, 8)]
    edges = pairs + [(b, a) for a, b in pairs]
    seeds = [(1, 10), (8, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame(seeds, "node long, label long")
    got = {
        r.node: r.label
        for r in label_propagation(df, sd, rounds=4).collect()
    }
    ref = _lp_reference(edges, seeds, 4)
    assert got == ref
    assert got[1] == 10 and got[8] == 20  # clamped
    assert got[2] == 10 and got[3] == 10
    assert got[7] == 20 and got[6] == 20


def test_labelprop_tie_breaks_to_smallest_label(spark):
    """A node with one neighbor of each label takes the smaller one."""
    edges = [(1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1, 7), (2, 5)], "node long, label long")
    got = {r.node: r.label for r in label_propagation(df, sd, rounds=1).collect()}
    assert got[3] == 5


def test_labelprop_unreached_nodes_stay_null(spark):
    edges = [(1, 2), (3, 4)]  # component {3,4} has no seed
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1, 9)], "node long, label long")
    got = {r.node: r.label for r in label_propagation(df, sd, rounds=3).collect()}
    assert got[2] == 9 and got[1] == 9
    assert got[3] is None and got[4] is None


def test_labelprop_conflicting_seed_rows_resolve_to_min(spark):
    edges = [(1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1, 8), (1, 3)], "node long, label long")
    got = {r.node: r.label for r in label_propagation(df, sd, rounds=1).collect()}
    assert got[1] == 3 and got[2] == 3


def test_labelprop_sql_twin_matches(spark):
    import duckdb

    pairs = [((i * 7) % 19, (i * 5 + 2) % 19) for i in range(40)]
    edges = pairs + [(b, a) for a, b in pairs]
    seeds = [(0, 100), (7, 200), (13, 300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame(seeds, "node long, label long")
    got = sorted(
        (r.node, r.label) for r in label_propagation(df, sd, rounds=4).collect()
    )
    ev = ", ".join(f"({a}, {b})" for a, b in edges)
    sv = ", ".join(f"({n}, {l})" for n, l in seeds)
    sql = label_propagation_sql(
        f"SELECT * FROM (VALUES {ev}) AS t(src, dst)",
        f"SELECT * FROM (VALUES {sv}) AS s(node, label)",
        rounds=4,
    )
    ref = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == ref


def test_kcore_registered_fixture_reaches_fixpoint(spark):
    """The z_graph_kcore docstring's claim, asserted on the real fixture:
    4 peel rounds over the sf0.001 minhash near-dup graph equal 3 rounds
    — the registered rounds=4 output IS the classical 2-core there."""
    from bonobo_sqlalchemy_spark.operators.dedup import minhash_lsh_pairs
    from bonobo_sqlalchemy_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_lsh_pairs(docs, n=3, num_perm=32, bands=8, threshold=0.5)
    edges = pairs.selectExpr("id1 as src", "id2 as dst").localCheckpoint()
    r3 = sorted((r.node, r.deg_final) for r in kcore_peel(edges, k=2, rounds=3).collect())
    r4 = sorted((r.node, r.deg_final) for r in kcore_peel(edges, k=2, rounds=4).collect())
    assert r3 == r4 and len(r4) > 0


def test_triangles_empty_and_selfloop_only_graphs(spark):
    """Degenerate inputs: no edges (schema-stable empty output) and a
    self-loop-only graph (canonicalizes to empty)."""
    empty = spark.createDataFrame([], "src long, dst long")
    out = triangle_counts(empty)
    assert out.columns == ["node", "tri", "deg", "lcc_micro"]
    assert out.count() == 0
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert triangle_counts(loops).count() == 0
    assert kcore_peel(loops, k=1, rounds=2).count() == 0


def test_labelprop_empty_seed_frame_yields_all_null(spark):
    from bonobo_sqlalchemy_spark.operators.graphalgo import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    sd = spark.createDataFrame([], "node long, label long")
    got = {r.node: r.label for r in label_propagation(edges, sd, rounds=2).collect()}
    assert got == {1: None, 2: None}


# ---------------------------------------------------------------------------
# Round 15: shuffle-fallback legs, k-core early exit, id-packing guard
# ---------------------------------------------------------------------------


def test_kcore_shuffle_join_leg_matches_broadcast_leg(spark):
    """broadcast_keep=False (the billion-node fallback) runs the same
    peel through shuffle semi-joins — output must be bit-identical."""
    pairs = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        + [(4, 5), (5, 6)]
        + [(7, 8), (8, 9), (7, 9)]
    )
    df = spark.createDataFrame(pairs, "src long, dst long")
    a = sorted((r.node, r.deg_final) for r in kcore_peel(df, k=2, rounds=4).collect())
    b = sorted(
        (r.node, r.deg_final)
        for r in kcore_peel(df, k=2, rounds=4, broadcast_keep=False).collect()
    )
    assert a == b and len(a) > 0


def test_kcore_early_exit_tracks_peel_depth(spark):
    """A shallow fixture (one pendant node; fixpoint after round 1) under a
    huge rounds CAP must stop after detecting the fixpoint — rounds is a
    cap, not a cost (r14 verdict item 6)."""
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4)]  # triangle + pendant 4
    df = spark.createDataFrame(pairs, "src long, dst long")
    stats: dict = {}
    got = {
        r.node: r.deg_final
        for r in kcore_peel(df, k=2, rounds=50, stats=stats).collect()
    }
    assert got == _kcore_reference(pairs, 2, 50) == {1: 2, 2: 2, 3: 2}
    assert stats["rounds_run"] == 1  # peel depth, nowhere near the cap
    # already-at-fixpoint input: zero filter rounds
    clique = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    stats2: dict = {}
    kcore_peel(clique, k=2, rounds=50, stats=stats2).collect()
    assert stats2["rounds_run"] == 0


def test_labelprop_shuffle_join_leg_matches_broadcast_leg(spark):
    """broadcast_labels=False runs the per-round label join as a shuffle
    join — the clamped modal recurrence must give identical labels."""
    edges = spark.createDataFrame(
        _sym([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (2, 6)]),
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1, 10), (7, 20)], "node long, label long")
    a = sorted(
        (r.node, r.label) for r in label_propagation(edges, seeds, rounds=4).collect()
    )
    b = sorted(
        (r.node, r.label)
        for r in label_propagation(
            edges, seeds, rounds=4, broadcast_labels=False
        ).collect()
    )
    assert a == b and len(a) > 0


def test_triangles_rejects_out_of_range_node_ids(spark):
    """The (deg, id) BIGINT packing silently mis-orders for ids outside
    [0, 2^32) — and the DuckDB twin shares the packing, so parity could
    never catch it. The in-plan guard must raise instead (ADVICE r14)."""
    import pytest

    big = spark.createDataFrame(
        [(1, 2), (2, 1 << 33), (1 << 33, 1)], "src long, dst long"
    )
    with pytest.raises(Exception) as ei:
        triangle_counts(big).collect()
    assert "packing" in str(ei.value)
    neg = spark.createDataFrame([(1, -2), (-2, 3)], "src long, dst long")
    with pytest.raises(Exception) as ei2:
        triangle_counts(neg).collect()
    assert "packing" in str(ei2.value)


def test_loop_operators_pin_spark_job_counts(spark):
    """The exact number of Spark jobs each round-loop operator submits
    before it returns (set-up checkpoints and scalar counts, one broadcast
    build per round, lazy intermediate and eager final checkpoints), on a
    tiny graph with the broadcast legs and the default cadence. Job counts
    do not depend on timing, so a change to the shared round loop that
    adds or drops work fails here without benchmark noise. (The shuffle
    legs are left out: adaptive execution plans their joins from runtime
    sizes, and their job count varies from run to run.)"""
    from bonobo_sqlalchemy_spark.metrics import trace
    from bonobo_sqlalchemy_spark.operators.graphalgo import (
        pagerank_personalized_integer,
    )

    df = spark.createDataFrame(
        _sym([(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5)]) + [(6, 2)],
        "src long, dst long",
    )
    sd = spark.createDataFrame([(1,), (4,)], "node long")
    lbl = spark.createDataFrame([(1, 10), (4, 20)], "node long, label long")
    calls = {
        "pagerank_integer": lambda: pagerank_integer(df, iters=5),
        "pagerank_personalized_integer": lambda: pagerank_personalized_integer(
            df, sd, iters=5
        ),
        "label_propagation": lambda: label_propagation(df, lbl, rounds=4),
    }
    jobs = {}
    for name, call in calls.items():
        with trace(spark, name) as span:
            call()
        jobs[name] = span.jobs
    assert jobs == {
        "pagerank_integer": 17,
        "pagerank_personalized_integer": 20,
        "label_propagation": 15,
    }
