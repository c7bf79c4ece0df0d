"""Edge and degree counts of the graphs ``graph_loops`` walks.

    python3 perfbench/graphstats.py DATA_DIR [DATA_DIR ...]

For each directory of input tables, DuckDB builds the three graphs from
the registry rows' own oracle SQL and prints nodes, edges and degrees:
the customer-supplier trade graph (``z_graph_pagerank``,
``z_graph_ppr_trade``), the minhash near-dup document graph
(``z_graph_audit_saved``) and the embedding similarity graph
(``z_graph_labelprop``). Used to set the generated inputs beside the
engine's fixture data; see README.md.
"""

from __future__ import annotations

import sys
from pathlib import Path

TRADE_SQL = """
SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""


def _stats(con, edges_sql: str) -> dict:
    """Undirected graph of ``edges_sql`` (columns 1 and 2, one row per edge)."""
    row = con.execute(
        f"""
        WITH e AS (SELECT DISTINCT * FROM ({edges_sql}) t(a, b)),
        ends AS (SELECT a AS n FROM e UNION ALL SELECT b FROM e),
        deg AS (SELECT n, COUNT(*) AS d FROM ends GROUP BY n)
        SELECT (SELECT COUNT(*) FROM e), COUNT(*), MEDIAN(d), MAX(d) FROM deg"""
    ).fetchone()
    return dict(zip(("edges", "nodes", "median_degree", "max_degree"), row))


def graphs(data_dir: Path) -> dict[str, dict]:
    import duckdb

    from bonobo_sqlalchemy_spark.queries.datapipe import _emb_lsh_auto_oracle
    from bonobo_sqlalchemy_spark.queries.datapipe12 import _neardup_edges_oracle

    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2})
    try:
        for p in sorted(data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        return {
            "trade": _stats(con, TRADE_SQL),
            "near-dup documents": _stats(con, _neardup_edges_oracle()),
            "embedding similarity": _stats(
                con,
                "SELECT id1, id2 FROM ("
                + _emb_lsh_auto_oracle(threshold=0.15, block_on_label=False)
                + ")",
            ),
        }
    finally:
        con.close()


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    for d in sys.argv[1:]:
        for name, s in graphs(Path(d)).items():
            print(f"{d}\t{name}\t" + "\t".join(f"{k}={v}" for k, v in s.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
