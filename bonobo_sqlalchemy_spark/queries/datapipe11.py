"""Round-14 training-data pipeline extensions: graph-structure audits of
the near-dup graph (triangle counts / local clustering, k-core peeling)
and theta-sketch set-operation cardinalities.

Why these belong in a 100 TB curation engine:

- **Triangle counts + local clustering coefficient** — the transitivity
  audit run BEFORE component-collapse dedup: if "near-dup" were a true
  equivalence, every LSH component would be a clique (lcc 1.0); a
  high-degree/low-lcc node is a hub document gluing unrelated clusters
  through the threshold, exactly the failure mode that makes
  union-find-style dedup over-delete. Degree-oriented counting keeps the
  wedge volume at O(E^1.5) regardless of skew.
- **k-core peeling** — the standard dense-subgraph extractor: high-core
  documents sit in heavily interlinked duplication farms (mirrors,
  boilerplate templates) worth dropping at the SOURCE, while organic
  near-dup pairs peel away in the first round.
- **KMV/theta set-operation cardinalities** — absolute distinct-count
  estimates of union/intersection between key sets from k-sized sketches
  (Beyer et al. 2007): "how many users do these two event streams share?"
  without a cross-stream join. Mergeable bottom-k state, so per-shard
  sketches fold without revisiting shards.

All three are VALUE-EXACT: integer (scaled) arithmetic end-to-end on
md5-derived hashes and exact counts, replayed term-for-term by DuckDB
twins (`operators/graphalgo.py::{triangle_counts_sql,kcore_peel_sql}`,
`operators/sketch.py::kmv_set_cardinalities_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_table
from .base import query


def _neardup_edges_oracle() -> str:
    """The minhash near-dup pair set as a (src, dst) edge list — reuses the
    hash-deterministic `_minhash_oracle` construction verbatim."""
    from .datapipe import _minhash_oracle

    return f"SELECT id1 AS src, id2 AS dst FROM ({_minhash_oracle()})"


def _triangles_oracle() -> str:
    from ..operators.graphalgo import triangle_counts_sql

    return (
        triangle_counts_sql(_neardup_edges_oracle())
        + "\n    ORDER BY node"
    )


@query(
    "z_graph_triangles",
    oracle=_triangles_oracle(),
    tags=("graph", "dedup", "scale"),
    bench=True,
)
def z_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup TRANSITIVITY audit: per-document triangle counts and exact
    local clustering coefficient (micro-units) over the MinHash-LSH
    near-dup graph (threshold 0.5) —
    `operators/graphalgo.py::triangle_counts` over
    `operators/dedup.py::minhash_lsh_pairs`.

    Reading the output: lcc_micro == 1e6 on every node of a component
    means the cluster is a clique (safe to collapse); a node with high
    deg and low lcc_micro is a hub gluing unrelated clusters through the
    threshold — inspect before union-find dedup.

    Scale: the pair stage is the LSH band-bucket join (no all-pairs); the
    triangle stage orients every edge from its lower-(degree, id)
    endpoint, bounding per-node wedge fan-out at O(sqrt(E)) under ANY
    degree skew, then closes wedges with one composite-key equi-join.
    VALUE-EXACT: the md5-deterministic minhash pairs and the
    integer-only triangle/lcc arithmetic are both replayed exactly by
    the DuckDB twin. (Every invocation computes the edge list from the
    parquet input — the persisted-edge-artifact mode lives in
    `z_graph_audit_saved`, whose declared semantic is the stored-index
    walk; this row measures the full inline pipeline.)"""
    from ..operators import dedup as D
    from ..operators.graphalgo import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=32, bands=8, threshold=0.5)
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    return triangle_counts(edges).orderBy("node")


def _kcore_oracle() -> str:
    from ..operators.graphalgo import kcore_peel_sql

    return (
        kcore_peel_sql(_neardup_edges_oracle(), k=2, rounds=4)
        + "\n    ORDER BY node"
    )


@query(
    "z_graph_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "dedup"),
    bench=True,
)
def z_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-duplication-core extraction: 2-core of the MinHash near-dup
    graph after 4 peel rounds (`operators/graphalgo.py::kcore_peel`) —
    the surviving ``(node, deg_final)`` rows are documents embedded in
    CYCLIC duplication structures (every survivor has >= 2 near-dup
    neighbours that themselves stay in the core — trees and isolated
    pairs peel away, so what remains is mirror-farm-shaped), the clusters a
    curation run drops at the source rather than pair-joining every
    snapshot. Fixed-round semantics with the fixpoint asserted on the
    fixture in tests (rounds 4 == rounds 3) and detected at runtime (the
    r15 early-exit makes ``rounds`` a cap, not a cost); VALUE-EXACT via
    the unrolled peel-round CTE chain. (Inline edge build per invocation
    — see `z_graph_triangles`; the stored-edge walk is
    `z_graph_audit_saved`'s declared semantic.)"""
    from ..operators import dedup as D
    from ..operators.graphalgo import kcore_peel

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=32, bands=8, threshold=0.5)
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    return kcore_peel(edges, k=2, rounds=4).orderBy("node")


def _kmv_setops_oracle() -> str:
    from ..operators.sketch import kmv_set_cardinalities_sql

    keys = "SELECT event_type AS g, user_id AS key FROM events"
    return (
        kmv_set_cardinalities_sql(keys, k=64)
        + "\n    ORDER BY group_a, group_b"
    )


@query(
    "z_sketch_kmv_setops",
    oracle=_kmv_setops_oracle(),
    tags=("sketch", "scale"),
    bench=True,
)
def z_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET-OPERATION cardinalities between event streams:
    for every event-type pair, integer estimates of each side's distinct
    users and of the union/intersection user counts, from bottom-64 KMV
    sketches (`operators/sketch.py::kmv_set_cardinalities`) — the
    audience-overlap question ("how many users do click and purchase
    share?") answered from k-row mergeable sketches instead of a
    cross-stream distinct join.

    Scale: the only corpus-sized stage is the distinct (type, user-hash)
    projection; the bottom-k window forwards at most k rows per group
    per input partition (Partial WindowGroupLimit below the exchange),
    and every later stage is sketch-sized. VALUE-EXACT: 40-bit md5
    fingerprints and BIGINT floor estimators, replayed term-for-term by
    the DuckDB twin — at sf0.001 the sketches are unfull so the
    estimates are EXACT counts; at sf0.01+ the estimator branch
    engages."""
    from ..operators.sketch import kmv_set_cardinalities

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_set_cardinalities(
        ev, key_col="user_id", group_col="event_type", k=64
    ).orderBy("group_a", "group_b")


def _labelprop_oracle() -> str:
    from ..operators.graphalgo import label_propagation_sql
    from .datapipe import _emb_lsh_auto_oracle

    pairs = _emb_lsh_auto_oracle(threshold=0.15, block_on_label=False)
    edges_sql = f"""
      WITH prs AS ({pairs})
      SELECT id1 AS src, id2 AS dst FROM prs
      UNION ALL
      SELECT id2 AS src, id1 AS dst FROM prs
    """
    seeds_sql = "SELECT vec_id AS node, label FROM embeddings WHERE vec_id % 5 = 0"
    lp = label_propagation_sql(edges_sql, seeds_sql, rounds=4)
    return f"""
    WITH lp AS ({lp})
    SELECT e.vec_id,
           CAST(lp.label AS BIGINT) AS pred_label,
           CAST(e.label AS BIGINT) AS true_label,
           CAST(CASE WHEN lp.label = e.label THEN 1 ELSE 0 END AS BIGINT) AS agree
    FROM lp JOIN embeddings e ON e.vec_id = lp.node
    WHERE e.vec_id % 5 <> 0 AND lp.label IS NOT NULL
    ORDER BY e.vec_id
    """


@query(
    "z_graph_labelprop",
    oracle=_labelprop_oracle(),
    tags=("graph", "similarity", "selection"),
    bench=True,
)
def z_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised LABEL SPREADING over the embedding similarity
    graph: clamp the known labels (the vec_id % 5 == 0 slice plays the
    curated 20%), propagate 4 modal rounds along the auto-bits LSH
    near-dup edges, and emit every non-seed vector a label reached, with
    its hidden true label exposed so the spread's accuracy is
    inspectable — the ASSIGNMENT counterpart to `z_graph_ppr_seed_expand`
    (PPR ranks proximity to ONE seed set; label propagation arbitrates
    among competing seed sets).

    VALUE-EXACT end-to-end: seeded-hyperplane LSH buckets +
    rounded-cosine verification (the production auto-bits default, same
    edge stage as the PPR composition) and the deterministic clamped
    modal rule (integer counts, ties to the smallest label), replayed by
    the unrolled DuckDB CTE chain. Scale: edge list materialized once,
    dst-partitioned; per-round label frame is node-cardinality on a
    broadcast (`broadcast_labels=False` for the measured billion-node
    shuffle leg); the modal pick is a map-side-partial hash aggregation
    over per-(node, label) counts, bounded by labels-per-node. (Every
    invocation computes the similarity edges from the parquet input —
    no cross-run artifact.)"""
    from ..operators.graphalgo import label_propagation
    from .datapipe10 import _similarity_edges

    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("node"), "label"
    )
    lp = label_propagation(_similarity_edges(e), seeds, rounds=4)
    out = (
        lp.where(F.col("label").isNotNull())
        .join(
            e.select("vec_id", F.col("label").alias("true_label")),
            lp.node == F.col("vec_id"),
        )
        .where(F.col("vec_id") % 5 != 0)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("pred_label"),
            F.col("true_label").cast("bigint").alias("true_label"),
            (F.col("label") == F.col("true_label")).cast("bigint").alias("agree"),
        )
    )
    return out.orderBy("vec_id")
