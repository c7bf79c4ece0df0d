"""Distributed graph algorithms over edge-list DataFrames.

Web-scale corpus pipelines rank *sources* by link/trade centrality (domain
PageRank is a standard quality prior for Common Crawl-class corpora) and
need the computation to survive both 100 TB edge lists and cross-engine
verification. The operator here is the Pregel-style matvec done
Spark-first — each iteration is one `join` (ranks x edges on src) + one
map-side-combinable `groupBy(dst)` aggregation, with a FIXED iteration
count so the whole computation is one declarative plan (Catalyst reuses
the edge exchange across iterations; no driver-side collect, no RDDs).

Determinism contract (same family as ``embedding.pca_power_train``): all
arithmetic is SCALED-INTEGER — ranks live in micro-units of ``scale``,
out-contributions use floor division, damping is the exact rational
``17/20`` applied as ``(17 * x) div 20`` — so sums are associative,
partition-order free, and a DuckDB CTE chain reproduces every rank
bit-for-bit. Floor-division mass leakage (< outdeg per node per
iteration, i.e. ~1e-12 of total mass at the default scale) is part of the
defined algorithm, not an error term.

Reference scope note: the reference engine has no graph operators; this
module belongs to the driver-mandated training-data extension surface
(SURVEY §2.4 quality-prior signals).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: damping factor 0.85 as the exact rational (17, 20)
_DAMP_NUM, _DAMP_DEN = 17, 20
#: the damped incoming mass of one PageRank round, as BIGINT
_DAMPED_INC = (
    f"CAST({_DAMP_NUM} AS BIGINT) * coalesce(inc, CAST(0 AS BIGINT)) div {_DAMP_DEN}"
)


def _edge_cache(e: DataFrame, broadcast: bool) -> DataFrame:
    """The loop-invariant ``(src, dst, ...)`` edge list, materialized ONCE
    so the k rounds re-read it instead of re-running the upstream build k
    times (without this, every PageRank round re-joined the source tables
    — 0 reused exchanges, ~3x the wall time on the trade graph).

    Broadcast leg: pre-partitioned by dst, which makes every round's
    ``groupBy(dst)`` partition-LOCAL — with the vertex state arriving by
    broadcast a round moves ZERO bytes over the network (measured 38
    MB/round -> 0 at sf1.0). ``persist`` (not localCheckpoint) keeps the
    partitioning visible to the planner; :func:`_vertex_rounds` releases
    it. Shuffle leg: a bare checkpoint — the per-round join shuffles on
    src anyway, so pre-partitioning on dst would only add an exchange."""
    return e.repartition("dst").persist() if broadcast else e.localCheckpoint()


def _anchor(nodes: DataFrame) -> DataFrame:
    """The per-node frame every round re-anchors on (it keeps nodes that
    receive nothing in the output), checkpointed once. ``repartition
    ("node")``: the per-round inbox comes out of ``groupBy(dst)``
    hash-partitioned on the node key with the same partition count, so
    the re-anchor left join is exchange-free on BOTH sides — no per-round
    broadcast build job and zero shuffled bytes, measured against both
    alternatives."""
    return nodes.repartition("node").localCheckpoint()


def _node_outdeg(ed: DataFrame, w_out: Column) -> DataFrame:
    """``(node, outdeg)`` over every endpoint of the edge cache in ONE
    exploded map-combined aggregation (r15) — it replaced [union +
    distinct (2E-row shuffle)] + [degree agg (E-row shuffle)] + [broadcast
    join], whose three setup stages were ~1s of the 4.8s sf0.1 bench row
    (OPTIMIZATION_r15.md). ``w_out`` is a source's out-weight per edge.
    SUM over an all-null group is NULL, so a node that never appears as a
    source (a sink) carries outdeg NULL. Derived FROM the cache, so the
    upstream edge build executes exactly once; outdeg is a per-SOURCE
    property, so it rides the node-cardinality anchor instead of E rows
    of the cache."""
    nd = ed.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), w_out.alias("w_out")),
                F.struct(
                    F.col("dst").alias("node"),
                    F.lit(None).cast("long").alias("w_out"),
                ),
            )
        ).alias("x")
    ).select("x.node", "x.w_out")
    return nd.groupBy("node").agg(F.sum("w_out").alias("outdeg"))


def _vertex_rounds(
    ed: DataFrame,
    anchor: DataFrame,
    state: DataFrame,
    rounds: int,
    message: Callable[[DataFrame], DataFrame],
    reduce: Callable[[DataFrame], DataFrame],
    update: list,
    checkpoint_interval: int,
    broadcast: bool,
) -> DataFrame:
    """The Pregel-style round loop shared by the iterative operators
    (the aggregateMessages shape): per round, ``message(state)`` is the
    node-cardinality ``(src, ...)`` frame each source sends along its
    out-edges, joined to the edge cache ``ed`` on src (by broadcast when
    ``broadcast``); ``reduce`` folds the joined rows into a ``(node,
    ...)`` inbox by ``groupBy(dst)``; the new state is ``update`` selected
    from the left join of ``anchor`` with the inbox. A round builds no
    DataFrame beyond these: Spark analyses every new DataFrame eagerly,
    and plan building already dominates the graph loops.

    ``checkpoint_interval`` bounds lazy-chain re-execution: chaining ALL
    rounds lazily makes every round's broadcast re-execute the rounds
    before it — quadratic re-execution that measured 3.9x the shuffle
    volume at the sf1.0 decade (SCALING.md) — while checkpointing every
    round costs one job per round (~80% of the sf0.1 bench row). Interval
    k trades (k-1) extra in-memory O(E) passes per block for k-1 fewer
    checkpoint jobs; shuffle volume is unchanged either way. INTERMEDIATE
    checkpoints are LAZY (r15): the next round's broadcast build computes
    every partition of the state anyway, so the checkpoint saves during
    that job instead of paying its own. The FINAL checkpoint is eager: it
    must materialize before the edge cache is unpersisted here (a lazy
    final frame would re-derive the edges from source at the caller's
    first action)."""
    for it in range(rounds):
        msg = message(state)
        if broadcast:
            msg = F.broadcast(msg)
        inbox = reduce(ed.join(msg, "src"))
        state = anchor.join(inbox, "node", "left").select(*update)
        last = it == rounds - 1
        if last or (it + 1) % max(1, checkpoint_interval) == 0:
            state = state.localCheckpoint(eager=last)
    if broadcast:
        ed.unpersist(blocking=False)
    return state


def pagerank_integer(
    edges: DataFrame,
    iters: int = 6,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_ranks: bool = True,
    checkpoint_interval: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank: ``(node, rank)`` with ``rank`` the
    exact scaled-integer score after ``iters`` rounds.

    ``weight_col`` (integer weights) makes the edge list a PRE-AGGREGATED
    multigraph: an edge ``(s, d, w)`` is exactly ``w`` parallel ``(s, d)``
    edges — ``incoming = sum(w * (rank_src div W_src))`` with ``W_src``
    the weighted out-degree. Because the floor division happens per
    SOURCE before the multiplication, this is bit-identical to feeding
    the exploded multigraph (asserted in tests), while the edge cache
    holds E_distinct rows instead of E_total — the form a 100 TB
    transition graph should arrive in.

    ``edges`` is a directed edge list; nodes are everything that appears as
    a src or dst, and EVERY node appears in the output every round — a
    zero-in-degree node (a pure source) holds exactly the base term
    ``(3*scale) div (20*n)``, matching the textbook recurrence (each round
    re-anchors on the node frame, the same shape as the personalized
    variant). Dangling-node policy stays with the CALLER: a node with
    in-edges but no out-edges keeps its rank yet contributes nothing, so
    its damped mass leaks each round (feed symmetrized edges, or add
    self-loops, to conserve mass — there is no hidden redistribution
    step). Initial rank is ``scale div n``; each round is

        rank' = (3 * scale) div (20 * n)  +  (17 * incoming) div 20
        incoming = sum over in-edges of (rank_src div outdeg_src)

    — all BIGINT ops, so the result is identical under any partitioning
    and any aggregation order.

    ``checkpoint_interval`` bounds lazy-chain re-execution: a round whose
    rank frame is NOT checkpointed gets re-executed once when the next
    round's broadcast materializes, so interval ``k`` trades ``(k-1)``
    extra in-memory O(E) passes per block for ``k-1`` fewer checkpoint
    jobs. Shuffle volume is unchanged either way (the re-executed pass
    rides the dst-partitioned edge cache + broadcasts). The default (2)
    halves the per-round job overhead that dominates small inputs;
    interval 1 is the conservative choice when E is huge and an extra
    O(E) pass costs more than a job submission.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("w"),
    )
    # the cache is the BARE (src, dst, w) list: attaching outdeg to the
    # edges would force the upstream subtree to execute twice (once
    # aggregated for the degree table, once for the cache itself —
    # measured 1.7s of the 4.5s sf0.1 bench row)
    ed = _edge_cache(e, broadcast_ranks)
    # carrying outdeg as an anchor COLUMN (null for sinks) means the
    # per-round contribution needs no extra node-side join (a per-round
    # ranks x deg join planned as sort-merge and measured +40% on the
    # sf0.1 bench row)
    anchor = _anchor(_node_outdeg(ed, F.col("w")))
    # n and the per-round base term are DRIVER scalars folded in as
    # literals (r15): a 1-row crossJoin broadcast cost a separate build
    # job that re-ran the exploded degree aggregation over the edge cache
    # (exchange reuse does not span jobs). The count reads the
    # CHECKPOINTED anchor; Python // on non-negative ints is exactly
    # BIGINT div, so every rank is bit-identical.
    n = anchor.count()
    base_term = (3 * int(scale)) // (20 * n) if n else 0
    init_rank = int(scale) // n if n else 0
    ranks = _vertex_rounds(
        ed,
        anchor,
        anchor.select("node", F.lit(init_rank).cast("long").alias("rank"), "outdeg"),
        iters,
        # ranks pre-divided by the carried outdeg (node-cardinality, rides
        # the broadcast); broadcast_ranks=False is the billion-node
        # shuffle-join fallback
        message=lambda r: r.where(F.col("outdeg").isNotNull()).select(
            F.col("node").alias("src"), F.expr("rank div outdeg").alias("q")
        ),
        # w * (rank div W_src): the per-source division precedes the
        # weight multiplication, which is what makes the pre-aggregated
        # form bit-identical to the exploded multigraph
        reduce=lambda m: m.select("dst", F.expr("w * q").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("inc"))
        .select(F.col("dst").alias("node"), "inc"),
        update=[
            "node",
            (F.lit(base_term).cast("long") + F.expr(_DAMPED_INC)).alias("rank"),
            "outdeg",
        ],
        checkpoint_interval=checkpoint_interval,
        broadcast=broadcast_ranks,
    )
    return ranks.select("node", "rank")


def pagerank_personalized_integer(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 6,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    broadcast_ranks: bool = True,
    checkpoint_interval: int = 2,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED SET) under
    the same integer-exactness contract as :func:`pagerank_integer` —
    the data-selection variant: rank every node by proximity to a trusted
    seed set (quality-seeded source ranking, seed-anchored retrieval).

    The restart mass goes ONLY to seeds: per round,

        rank' = (seed ? (3 * scale) div (20 * |S|) : 0)
                + (17 * incoming) div 20

    with ``|S|`` the seed count and the initial rank ``scale div |S|`` on
    seeds, 0 elsewhere. Non-seed nodes therefore hold mass purely through
    graph proximity. Seeds ride a broadcast into the node frame; the
    round structure (and the scale story) is identical to the uniform
    operator."""
    e = edges.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    )
    ed = _edge_cache(e, broadcast_ranks)
    deg_nodes = _node_outdeg(ed, F.lit(1).cast("long"))
    sd = seeds.select(F.col(seed_col).cast("long").alias("node")).distinct()
    marked = _anchor(
        deg_nodes.join(
            F.broadcast(sd.withColumn("is_seed", F.lit(True))), "node", "left"
        ).select(
            "node",
            F.coalesce("is_seed", F.lit(False)).alias("is_seed"),
            "outdeg",
        )
    )
    # |S| as a DRIVER scalar folded in as literals, as in pagerank_integer.
    # NOTE the count is over sd, NOT over marked's seed rows — a seed
    # absent from the graph still belongs in the restart denominator (the
    # textbook contract).
    ns = sd.count()
    seed_base = (3 * int(scale)) // (20 * ns) if ns else 0
    seed_init = int(scale) // ns if ns else 0
    ranks = _vertex_rounds(
        ed,
        marked,
        marked.select(
            "node",
            "is_seed",
            F.expr(
                f"CASE WHEN is_seed THEN CAST({seed_init} AS BIGINT) "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("rank"),
            "outdeg",
        ),
        iters,
        message=lambda r: r.where(F.col("outdeg").isNotNull()).select(
            F.col("node").alias("src"), F.expr("rank div outdeg").alias("c")
        ),
        reduce=lambda m: m.select("dst", "c")
        .groupBy("dst")
        .agg(F.sum("c").alias("inc"))
        .select(F.col("dst").alias("node"), "inc"),
        # re-anchoring on the marked node frame lets seeds restart even
        # with zero inflow
        update=[
            "node",
            "is_seed",
            (
                F.expr(
                    f"CASE WHEN is_seed THEN CAST({seed_base} AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
                + F.expr(_DAMPED_INC)
            ).alias("rank"),
            "outdeg",
        ],
        checkpoint_interval=checkpoint_interval,
        broadcast=broadcast_ranks,
    )
    return ranks.select("node", "rank")


def pagerank_personalized_integer_sql(
    edges_sql: str,
    seeds_sql: str,
    iters: int = 6,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`pagerank_personalized_integer` — the same
    unrolled integer CTE chain with the restart mass confined to the seed
    set and every round re-anchored on the full node frame (so seeds
    restart even with zero inflow)."""
    base = f"""
    e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM ({edges_sql})),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    sd AS (SELECT DISTINCT CAST(node AS BIGINT) AS node FROM ({seeds_sql})),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd),
    mk AS (SELECT n.node, sd.node IS NOT NULL AS is_seed
           FROM nodes n LEFT JOIN sd ON sd.node = n.node),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
    ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
    r0 AS (SELECT node, CASE WHEN is_seed THEN CAST({int(scale)} AS BIGINT) // ns
                             ELSE CAST(0 AS BIGINT) END AS rank
           FROM mk, ns)"""
    steps = []
    for t in range(iters):
        steps.append(f"""
    i{t + 1} AS (
      SELECT ed.dst AS node, SUM(r{t}.rank // ed.outdeg) AS inc
      FROM ed JOIN r{t} ON r{t}.node = ed.src
      GROUP BY ed.dst
    ),
    r{t + 1} AS (
      SELECT mk.node,
             (CASE WHEN mk.is_seed THEN CAST(3 * {int(scale)} AS BIGINT) // (20 * ns.ns)
                   ELSE CAST(0 AS BIGINT) END)
             + (CAST({_DAMP_NUM} AS BIGINT) * COALESCE(i{t + 1}.inc, 0)) // {_DAMP_DEN} AS rank
      FROM mk LEFT JOIN i{t + 1} USING (node) CROSS JOIN ns
    )""")
    return "WITH" + ",".join([base] + steps) + f"\n    SELECT node, rank FROM r{iters}"


def pagerank_integer_sql(
    edges_sql: str,
    iters: int = 6,
    scale: int = 10**12,
    weighted: bool = False,
) -> str:
    """DuckDB twin of :func:`pagerank_integer` as an unrolled CTE chain —
    ``edges_sql`` must yield ``(src, dst)`` (or ``(src, dst, w)`` with
    ``weighted=True`` — the pre-aggregated multigraph form, same
    recurrence: ``inc = SUM(w * (rank // W_src))``). Because every
    operation is integer, the GROUP BY sums need no ordering discipline;
    the chain is bit-exact against the Spark plan by construction. Every
    round re-anchors on the full node frame (LEFT JOIN + COALESCE),
    matching the operator: zero-in-degree nodes hold exactly the base
    term."""
    wexpr = "CAST(w AS BIGINT)" if weighted else "CAST(1 AS BIGINT)"
    base = f"""
    e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, {wexpr} AS w
          FROM ({edges_sql})),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outdeg FROM e GROUP BY src),
    ed AS (SELECT e.src, e.dst, e.w, deg.outdeg FROM e JOIN deg USING (src)),
    r0 AS (SELECT node, CAST({int(scale)} AS BIGINT) // n AS rank FROM nodes, nn)"""
    steps = []
    for t in range(iters):
        steps.append(f"""
    i{t + 1} AS (
      SELECT ed.dst AS node, SUM(ed.w * (r{t}.rank // ed.outdeg)) AS inc
      FROM ed JOIN r{t} ON r{t}.node = ed.src
      GROUP BY ed.dst
    ),
    r{t + 1} AS (
      SELECT nodes.node,
             (CAST(3 * {int(scale)} AS BIGINT) // (20 * nn.n))
             + (CAST({_DAMP_NUM} AS BIGINT) * COALESCE(i{t + 1}.inc, 0)) // {_DAMP_DEN} AS rank
      FROM nodes LEFT JOIN i{t + 1} USING (node) CROSS JOIN nn
    )""")
    return "WITH" + ",".join([base] + steps) + f"\n    SELECT node, rank FROM r{iters}"


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The undirected simple graph induced by ``edges`` as canonical
    ``(u, v)`` pairs with ``u < v`` (either/both directions accepted,
    self-loops dropped, parallel edges collapsed), materialized once: its
    readers (a degree aggregate plus joins or per-round filters) would
    otherwise each re-execute the upstream pair generator, often an LSH
    pipeline."""
    e = edges.select(
        F.col(src_col).cast("long").alias("x"), F.col(dst_col).cast("long").alias("y")
    ).where(F.col("x") != F.col("y"))
    return (
        e.select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .distinct()
        .localCheckpoint()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """``(node, d)``: the undirected degree of every endpoint of ``und``."""
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    lcc_scale: int = 10**6,
) -> DataFrame:
    """Per-node triangle counts + exact local clustering coefficient
    (scaled integer) over the UNDIRECTED graph induced by ``edges``
    (either/both directions accepted; self-loops dropped, parallel edges
    collapsed). Output: ``(node, tri, deg, lcc_micro)`` where ``tri`` is
    the number of triangles the node participates in, ``deg`` its
    undirected degree, and ``lcc_micro = (2*tri*lcc_scale) div
    (deg*(deg-1))`` for ``deg >= 2`` else 0 — all BIGINT, so the result
    is bit-identical under any partitioning and a DuckDB twin
    (:func:`triangle_counts_sql`) reproduces it exactly.

    The corpus-pipeline use is near-dup TRANSITIVITY auditing: if the
    near-dup relation were perfectly transitive, every connected
    component would be a clique (lcc 1.0 everywhere); low-lcc/high-degree
    nodes are hub documents gluing unrelated clusters — exactly the rows
    a threshold sweep should inspect before component-collapse dedup.

    Scale design (the standard degree-orientation bound, Chiba-Nishizeki
    / Cohen's MapReduce formulation): every undirected edge is oriented
    from its lower-(degree, id) endpoint to the higher one, so each
    node's ORIENTED out-degree is O(sqrt(E)) regardless of skew — a
    celebrity node with 1e6 followers contributes no wedge unless both
    endpoints rank above it. Wedge generation is a self-equi-join of the
    oriented list on its source (total wedge volume sum(outdeg^2) =
    O(E^1.5) worst-case instead of sum(deg^2), which is unbounded under
    skew); closing is one equi-join of wedges against oriented edges on
    the composite (lo, hi) key. Three shuffles total (degree agg, wedge
    join, closing join), all on equi-keys, AQE-eligible; no collect, no
    per-row Python. The orientation key packs (degree, node) into one
    BIGINT ``deg * 2**32 + node`` — valid while node ids stay in
    ``[0, 2**32)``, GUARDED in-plan: an out-of-range id raises from the
    node-cardinality degree frame before any wedge is built (a silent
    mis-order would corrupt Spark and the DuckDB twin identically, so
    oracle parity could never catch it).
    """
    und = _undirected(edges, src_col, dst_col)
    deg = _degrees(und)
    # The packing is only an order-embedding of (d, node) while ids sit in
    # [0, 2^32); outside it the orientation silently corrupts AND the DuckDB
    # twin corrupts identically (shared packing), so oracle parity cannot
    # catch it — guard in-plan instead (ADVICE r14): one codegen CASE per
    # NODE row (not per edge), raising before any wedge is built.
    id_ok = (F.col("node") >= 0) & (F.col("node") < F.lit(1 << 32))
    k = deg.select(
        "node",
        F.when(id_ok, F.col("d") * F.lit(1 << 32) + F.col("node"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "triangle_counts: node id outside [0, 2^32) breaks the"
                        " (deg, id) packing; remap ids first: "
                    ),
                    F.col("node").cast("string"),
                )
            )
        )
        .alias("okey"),
    )
    # degree table is node-cardinality (<= 2E rows of 16 bytes) — ride it
    # in as a broadcast on both endpoint joins so the edge list never
    # re-shuffles for orientation.
    ek = und.join(
        F.broadcast(k.select(F.col("node").alias("u"), F.col("okey").alias("ku"))), "u"
    ).join(
        F.broadcast(k.select(F.col("node").alias("v"), F.col("okey").alias("kv"))), "v"
    )
    lower = F.col("ku") < F.col("kv")
    orient = ek.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(lower, F.col("kv")).otherwise(F.col("ku")).alias("kt"),
    ).localCheckpoint()  # three readers: two wedge sides + the closing set
    a, b = orient.alias("a"), orient.alias("b")
    wedges = (
        a.join(b, "s")
        .where(F.col("a.kt") < F.col("b.kt"))
        .select(F.col("s"), F.col("a.t").alias("p"), F.col("b.t").alias("q"))
    )
    closing = orient.select(F.col("s").alias("p"), F.col("t").alias("q"))
    tri = wedges.join(closing, ["p", "q"])  # one row per triangle (s, p, q)
    per = (
        tri.select(F.explode(F.array("s", "p", "q")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return deg.join(per, "node", "left").select(
        "node",
        F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("tri"),
        F.col("d").cast("bigint").alias("deg"),
        F.when(
            F.col("d") >= 2,
            F.expr(
                f"CAST(2 * coalesce(tri, 0) * {int(lcc_scale)} AS BIGINT)"
                " div (d * (d - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lcc_micro"),
    )


def triangle_counts_sql(edges_sql: str, lcc_scale: int = 10**6) -> str:
    """DuckDB twin of :func:`triangle_counts` — same canonicalization,
    same (degree, id) orientation key, same wedge/close joins; integer
    arithmetic throughout, so the result is bit-identical."""
    # multiply-referenced CTEs are MATERIALIZED: DuckDB would otherwise
    # inline `und` (3 readers) and `ori` (3 readers) textually, re-running
    # the upstream edge generator (often a whole LSH pipeline) once per
    # reference — the same single-execution discipline as the Spark
    # side's localCheckpoints.
    return f"""
    WITH e0 AS (SELECT CAST(src AS BIGINT) AS x, CAST(dst AS BIGINT) AS y
                FROM ({edges_sql}) WHERE src <> dst),
    und AS MATERIALIZED (SELECT LEAST(x, y) AS u, GREATEST(x, y) AS v
                         FROM e0 GROUP BY 1, 2),
    dg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
           FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
           GROUP BY 1),
    kk AS (SELECT node, d * 4294967296 + node AS okey FROM dg),
    ori AS MATERIALIZED (
            SELECT CASE WHEN ku.okey < kv.okey THEN und.u ELSE und.v END AS s,
                   CASE WHEN ku.okey < kv.okey THEN und.v ELSE und.u END AS t,
                   CASE WHEN ku.okey < kv.okey THEN kv.okey ELSE ku.okey END AS kt
            FROM und JOIN kk ku ON ku.node = und.u JOIN kk kv ON kv.node = und.v),
    wdg AS (SELECT a.s AS s, a.t AS p, b.t AS q
            FROM ori a JOIN ori b ON a.s = b.s AND a.kt < b.kt),
    tri AS (SELECT wdg.s, wdg.p, wdg.q
            FROM wdg JOIN (SELECT s AS p, t AS q FROM ori) c USING (p, q)),
    per AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
            FROM (SELECT s AS node FROM tri UNION ALL
                  SELECT p FROM tri UNION ALL
                  SELECT q FROM tri)
            GROUP BY 1)
    SELECT dg.node,
           CAST(COALESCE(per.tri, 0) AS BIGINT) AS tri,
           dg.d AS deg,
           CASE WHEN dg.d >= 2
                THEN (2 * COALESCE(per.tri, 0) * {int(lcc_scale)}) // (dg.d * (dg.d - 1))
                ELSE 0 END AS lcc_micro
    FROM dg LEFT JOIN per USING (node)
    """


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_keep: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling over the undirected graph induced by
    ``edges``: repeat ``rounds`` times { drop every node of current
    degree < ``k``, drop its incident edges }, then return the survivors
    with their degree in the FINAL surviving subgraph —
    ``(node, deg_final)``, all BIGINT.

    A node can survive the last FILTER yet end below ``k`` when its
    neighbours died in the same round — that is the defined fixed-round
    semantics (same family as the fixed-iteration PageRank contract); at
    the fixpoint (``rounds`` >= peel depth, asserted on fixtures by
    comparing rounds R and R-1) the output IS the classical k-core.

    Corpus-pipeline use: dense cores of the near-dup graph are the
    mirrored/boilerplate clusters worth dropping at the SOURCE — the
    k-core is the standard "densely interlinked subset" extractor (web
    spam / boilerplate farms are high-core; organic near-dup pairs peel
    away immediately).

    Scale design: each round is one degree aggregation (map-side
    combinable) + two semi-joins of the edge list against the surviving
    node set. The node set rides a BROADCAST by default
    (node-cardinality, shrinks every round); past ~1e8 surviving nodes
    pass ``broadcast_keep=False`` to run the same two semi-joins as
    shuffle joins instead — bit-identical output (the semi-join is
    set-semantic either way), O(E_r) shuffled per round, the same
    escape hatch `pagerank_integer` exposes via ``broadcast_ranks``.
    The edge list is filtered in place and localCheckpoint'd per round,
    so round r+1 reads round r's O(E_r) result instead of re-executing
    the whole chain — the same bounded-re-execution discipline as
    `pagerank_integer`. No collect beyond one scalar count per round:
    a round that would drop ZERO nodes is the fixpoint — every later
    round is a no-op, so the loop exits early and ``rounds`` is a CAP
    on work, not a cost (the per-round count is the same cheap action
    the `connected_components` loop uses; it rides the degree
    aggregate that the round computes anyway). ``stats`` (optional
    dict) records ``rounds_run`` for tests/audits.
    """
    cur = _undirected(edges, src_col, dst_col)
    rounds_run = 0
    for _ in range(rounds):
        dg = _degrees(cur)
        # fixpoint probe: one tiny 2-scalar agg over the node-cardinality
        # degree frame (computed this round regardless). All nodes already
        # >= k -> nothing peels now or ever after; stop.
        probe = dg.agg(
            F.count(F.lit(1)).alias("n_cur"),
            F.sum((F.col("d") >= k).cast("long")).alias("n_keep"),
        ).first()
        if probe.n_cur == 0 or probe.n_keep == probe.n_cur:
            break
        rounds_run += 1
        keep = dg.where(F.col("d") >= k).select("node")
        ku = keep.select(F.col("node").alias("u"))
        kv = keep.select(F.col("node").alias("v"))
        if broadcast_keep:
            ku, kv = F.broadcast(ku), F.broadcast(kv)
        cur = (
            cur.join(ku, "u", "semi")
            .join(kv, "v", "semi")
            .select("u", "v")
            .localCheckpoint()
        )
    if stats is not None:
        stats["rounds_run"] = rounds_run
    return _degrees(cur).select("node", F.col("d").cast("bigint").alias("deg_final"))


def kcore_peel_sql(edges_sql: str, k: int = 3, rounds: int = 4) -> str:
    """DuckDB twin of :func:`kcore_peel` — the same peel rounds unrolled
    as a CTE chain (degree -> keep -> filtered edges per round)."""
    # every e{r} has three readers (the degree union's two legs + the next
    # round's filter); without MATERIALIZED DuckDB inlines the chain
    # textually, exploding the upstream edge generator 3^rounds times
    # (measured: the minhash-pair generator alone exhausts the fd limit
    # at rounds=4). Same single-execution discipline as the Spark side's
    # per-round localCheckpoints.
    base = f"""
    e0x AS (SELECT CAST(src AS BIGINT) AS x, CAST(dst AS BIGINT) AS y
            FROM ({edges_sql}) WHERE src <> dst),
    e0 AS MATERIALIZED (SELECT LEAST(x, y) AS u, GREATEST(x, y) AS v
                        FROM e0x GROUP BY 1, 2)"""
    steps = []
    for r in range(rounds):
        steps.append(f"""
    d{r} AS (SELECT node, COUNT(*) AS d
             FROM (SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})
             GROUP BY 1),
    k{r} AS (SELECT node FROM d{r} WHERE d >= {int(k)}),
    e{r + 1} AS MATERIALIZED (SELECT e{r}.u, e{r}.v
                 FROM e{r}
                 JOIN k{r} a ON e{r}.u = a.node
                 JOIN k{r} b ON e{r}.v = b.node)""")
    return (
        "WITH" + ",".join([base] + steps)
        + f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg_final
    FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
    GROUP BY 1
    """
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    checkpoint_interval: int = 2,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Clamped semi-supervised label propagation: seed nodes keep their
    (integer) label forever; every round each node adopts the MODAL label
    of its labeled in-neighbors, ties broken to the smallest label —
    fully deterministic, so a DuckDB unrolled-CTE twin
    (:func:`label_propagation_sql`) reproduces it exactly. Output:
    ``(node, label)`` with ``label`` NULL for nodes no label reached
    within ``rounds``.

    This is the label-SPREADING selector ("extend my curated labels to
    everything similar") that complements the PPR seed-set expansion: PPR
    ranks proximity to one seed set; label propagation ASSIGNS among
    competing seed sets. Raghavan et al. 2007 shape, restricted to fixed
    rounds + clamped seeds for determinism (free-running LPA is
    order-dependent; the clamped modal rule is not).

    Scale design (same discipline as :func:`pagerank_integer`): the edge
    list is loop-invariant — materialized once, pre-partitioned on dst so
    every round's modal count is partition-local; the label frame is
    node-cardinality and rides a broadcast into the edge join (past ~1e8
    nodes pass ``broadcast_labels=False``: the per-round label join runs
    as a shuffle join against the checkpointed edge list instead —
    bit-identical output, O(E) shuffled per round, the same fallback
    contract as ``pagerank_integer(broadcast_ranks=False)``); the modal
    pick folds into a second hash aggregation (max(struct(count,
    -label)) — partial map-side, no rank window) — bounded by labels-per-node,
    not corpus size; seeds are clamped by re-anchoring on a checkpointed
    (node, seed_label) frame each round, which also keeps never-reached
    nodes in the output. ``checkpoint_interval`` bounds lazy-chain
    re-execution exactly as in the PageRank loops.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    )
    ed = _edge_cache(e, broadcast_labels)
    # node set in ONE pass over the edge cache (explode both endpoints,
    # map-side-partial distinct) instead of a two-leg union — r15, same
    # rationale as _node_outdeg
    nodes = ed.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    # one label per seed node, deterministically (min) — callers passing a
    # conflicting seed frame get the smallest label, not a race
    sd = (
        seeds.select(
            F.col(node_col).cast("long").alias("node"),
            F.col(label_col).cast("long").alias("seed_lbl"),
        )
        .groupBy("node")
        .agg(F.min("seed_lbl").alias("seed_lbl"))
    )
    anchor = _anchor(nodes.join(F.broadcast(sd), "node", "left"))
    labels = _vertex_rounds(
        ed,
        anchor,
        anchor.select("node", F.col("seed_lbl").alias("lbl")),
        rounds,
        message=lambda s: s.where(F.col("lbl").isNotNull()).select(
            F.col("node").alias("src"), "lbl"
        ),
        # modal pick as max(struct(c, -lbl)) — highest count, ties to the
        # SMALLEST label — instead of a rank-window: stays in hash-agg
        # land (partial max map-side), one sort fewer per round
        reduce=lambda m: m.groupBy("dst", "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("dst")
        .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
        .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("prop_lbl")),
        update=["node", F.coalesce("seed_lbl", "prop_lbl").alias("lbl")],
        checkpoint_interval=checkpoint_interval,
        broadcast=broadcast_labels,
    )
    return labels.select("node", F.col("lbl").alias("label"))


def label_propagation_sql(
    edges_sql: str, seeds_sql: str, rounds: int = 4
) -> str:
    """DuckDB twin of :func:`label_propagation` — the same clamped modal
    recurrence unrolled; ``seeds_sql`` must yield ``(node, label)``.
    The edge and anchor CTEs are MATERIALIZED (multiple readers across
    the unrolled rounds — the kcore_peel_sql inlining lesson)."""
    base = f"""
    e AS MATERIALIZED (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
                       FROM ({edges_sql})),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    sd AS (SELECT CAST(node AS BIGINT) AS node, MIN(CAST(label AS BIGINT)) AS seed_lbl
           FROM ({seeds_sql}) GROUP BY 1),
    anc AS MATERIALIZED (SELECT n.node, sd.seed_lbl
                         FROM nodes n LEFT JOIN sd USING (node)),
    l0 AS (SELECT node, seed_lbl AS lbl FROM anc)"""
    steps = []
    for t in range(rounds):
        steps.append(f"""
    c{t} AS (SELECT e.dst, l.lbl, COUNT(*) AS c
             FROM e JOIN l{t} l ON l.node = e.src AND l.lbl IS NOT NULL
             GROUP BY 1, 2),
    p{t} AS (SELECT dst AS node, lbl FROM c{t}
             QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, lbl ASC) = 1),
    l{t + 1} AS (SELECT anc.node, COALESCE(anc.seed_lbl, p.lbl) AS lbl
                 FROM anc LEFT JOIN p{t} p USING (node))""")
    return (
        "WITH" + ",".join([base] + steps)
        + f"\n    SELECT node, lbl AS label FROM l{rounds}"
    )
