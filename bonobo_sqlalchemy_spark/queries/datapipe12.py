"""Round-15 training-data pipeline extensions: the similarity graph as a
PERSISTED, INCREMENTALLY-MAINTAINED artifact.

The round-14 graph-family rows each rebuilt the same LSH edge stage inline
(~8–10s of the graph bench wall was repeated work). Production builds the
near-dup graph ONCE, keeps it fresh as batches land, and runs every
analytic over the stored edges — the persisted-ANN-index pattern
(`queries/datapipe10.py` saved-index rows) applied to graphs:

- **`z_graph_audit_saved`** — the full transitivity + density audit
  (triangle counts, exact local clustering, k-core membership) over the
  CACHED edge artifact: walk cost isolated from edge-build cost in BENCH
  (the build happens once, outside the steady-state timing, exactly like
  `sim_ivf_saved_index`).
- **`z_graph_edges_incremental`** — delta docs → delta edges: a base
  index (80% of the corpus) is extended with the remaining batch, and the
  result is proven BIT-IDENTICAL to a from-scratch build by the
  full-corpus recompute oracle. Hash corpus-independence (md5 shingles,
  fixed perm constants, md5 band keys) is what makes the composition
  exact — see `operators/dedup.py::minhash_index_frames`.

Reference scope note: the reference engine has no graph/index operators;
this module belongs to the driver-mandated training-data extension
surface (SURVEY §2.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import artifact_path, ensure_artifact
from ..sources.files import load_table
from .base import query
from .datapipe11 import _neardup_edges_oracle


def _docs_stamp(sf_dir: str) -> str:
    src = f"{sf_dir}/documents.parquet"
    st = os.stat(src)
    return f"{src}:{st.st_size}:{st.st_mtime_ns}"


def neardup_edge_index_cached(spark: SparkSession, sf_dir: str) -> str:
    """Build-once full-corpus minhash near-dup edge index (threshold 0.5,
    32 perms / 8 bands — the `z_graph_*` parameterization) under
    `cache.ensure_artifact`: atomic publish, keyed by (input parquet
    stamp, engine source hash), so a code change or new data simply
    misses the cache and rebuilds. Returns the artifact directory with
    ``edges/ buckets/ shingles/ sizes/`` parquet frames."""
    from ..operators.dedup import minhash_index_write

    def _build(tmp: str) -> None:
        minhash_index_write(
            spark, tmp, load_table(spark, sf_dir, "documents"), threshold=0.5
        )

    return ensure_artifact(
        artifact_path("ndedges", f"{_docs_stamp(sf_dir)}:mh32b8t05"), _build
    )


def _audit_saved_oracle() -> str:
    from ..operators.graphalgo import kcore_peel_sql, triangle_counts_sql

    tri = triangle_counts_sql(_neardup_edges_oracle())
    core = kcore_peel_sql(_neardup_edges_oracle(), k=2, rounds=4)
    return f"""
    WITH tri AS ({tri}),
    core AS ({core})
    SELECT tri.node, tri.tri, tri.deg, tri.lcc_micro,
           CAST(core.deg_final AS BIGINT) AS core_deg,
           CAST(core.node IS NOT NULL AS BIGINT) AS in_core
    FROM tri LEFT JOIN core USING (node)
    ORDER BY node
    """


@query(
    "z_graph_audit_saved",
    oracle=_audit_saved_oracle(),
    tags=("graph", "dedup", "scale"),
    bench=True,
)
def z_graph_audit_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup graph audit over the PERSISTED edge artifact: per-node
    triangles, degree, exact local clustering coefficient AND 2-core
    membership, computed from `neardup_edge_index_cached`'s stored edges —
    one cached edge build feeds both analytics, where the round-14 rows
    each rebuilt the LSH stage inline. The steady-state cost this row
    measures is the WALK (orientation joins + peel rounds) over a parquet
    edge list, isolated from edge generation — the production shape for
    running many analytics over one similarity graph.

    VALUE-EXACT: the stored edges are the deterministic md5-derived
    minhash pair set, so the oracle recomputes them symbolically and
    replays both integer analytics (triangle/lcc CTE twin + unrolled peel
    rounds) over the same edge expression."""
    from ..operators.graphalgo import kcore_peel, triangle_counts

    path = neardup_edge_index_cached(spark, sf_dir)
    edges = (
        spark.read.parquet(f"{path}/edges")
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .localCheckpoint()
    )
    tri = triangle_counts(edges)
    core = kcore_peel(edges, k=2, rounds=4).select(
        F.col("node"), F.col("deg_final").alias("core_deg")
    )
    return (
        tri.join(core, "node", "left")
        .select(
            "node",
            "tri",
            "deg",
            "lcc_micro",
            F.col("core_deg").cast("bigint").alias("core_deg"),
            F.col("core_deg").isNotNull().cast("bigint").alias("in_core"),
        )
        .orderBy("node")
    )


def _edges_incremental_oracle() -> str:
    from .datapipe import _minhash_oracle

    return f"""
    SELECT id1, id2, jaccard FROM ({_minhash_oracle()})
    ORDER BY id1, id2
    """


@query(
    "z_graph_edges_incremental",
    oracle=_edges_incremental_oracle(),
    tags=("graph", "dedup", "incremental"),
    bench=True,
)
def z_graph_edges_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL similarity-graph maintenance — delta docs → delta
    edges: a persisted base index over 80% of the corpus (doc_id % 5 != 0,
    the accumulated-corpus stand-in) is extended with the remaining batch
    via `operators/dedup.py::minhash_edges_extend` — only the delta pays
    signature cost; candidates are delta-buckets × stored-buckets; exact
    Jaccard verifies against the stored shingle frame. The output is the
    FULL edge set, and the oracle recomputes it FROM SCRATCH over the
    whole corpus — incremental == rebuild, bit-for-bit, which is the
    entire contract of incremental maintenance (hash corpus-independence
    makes it possible; a df-capped index would not compose).

    Steady-state bench cost = the delta extension only (the base index is
    the cached artifact); the `z_sim_ivf_incremental` story for graphs."""
    from ..operators.dedup import minhash_edges_extend, minhash_index_write

    docs = load_table(spark, sf_dir, "documents")

    def _build(tmp: str) -> None:
        minhash_index_write(
            spark, tmp, docs.where(F.col("doc_id") % 5 != 0), threshold=0.5
        )

    path = ensure_artifact(
        artifact_path("ndedges", f"{_docs_stamp(sf_dir)}:mh32b8t05base80"), _build
    )
    delta = docs.where(F.col("doc_id") % 5 == 0)
    full = minhash_edges_extend(spark, path, delta, threshold=0.5)
    return full.orderBy("id1", "id2")
