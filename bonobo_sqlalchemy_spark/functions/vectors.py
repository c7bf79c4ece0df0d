"""Vector column functions over ``array<float>`` embeddings (SURVEY §2.4).

Two execution tiers, chosen by shape of the work:

- **Scalar/few-row expressions** (``dot``/``cosine``): built-in higher-order
  functions (``zip_with`` / ``aggregate``) — no Python boundary.
- **Dense batch linear algebra** (plane signatures, candidate-pair cosine,
  codebook scores): Arrow-vectorized numpy (``mapInPandas`` /
  ``pandas_udf``). This is the one hot path where BLAS-backed matmul beats
  anything expressible in Catalyst: a 64x64 literal-term projection blows
  Janino codegen past its method limits, and the explode + broadcast-join +
  N-SUM-aggregate formulation pays an exchange plus a 60+-column join for
  what is a single fused ``X @ W`` per Arrow batch. The numpy form is a
  narrow per-batch map — no shuffle, embarrassingly parallel at any scale.

Elements are cast to double *before* multiplying (float->double cast is
exact) so per-term products are bit-identical across engines; only the
summation order differs (numpy pairwise vs hash-agg partials vs a SQL
engine's fold), which is why consumers round to 6 decimals (reordering
error ~1e-15 on unit-scale 64-dim vectors).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _c(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _list_matrix(arr, dtype=np.float64):
    """(n, dim) numpy matrix from an Arrow ``list<numeric>`` array with ONE
    vectorized buffer copy instead of one Python conversion per row.

    An Arrow list column is a contiguous values buffer plus an offsets
    array (guide §4.2): when there are no nulls and every list has the
    same length, ``flatten()`` hands back the values for exactly the
    logical slice and a single ``astype(...).reshape(...)`` produces the
    matrix — for a 1M-row candidate batch this replaces 1M per-row
    ``np.asarray`` calls (the measured dominant cost of the r14 verify
    stage). Ragged or null-bearing inputs fall back to the per-row path,
    so behavior is unchanged — the fast path is an identical-value
    shortcut, never a semantic change.
    """
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    try:
        if arr.null_count == 0:
            flat = arr.flatten()
            vals = flat.to_numpy(zero_copy_only=False)
            if vals.size and vals.size % n == 0:
                m = vals.size // n
                offs = getattr(arr, "offsets", None)
                uniform = True
                if offs is not None:
                    o = offs.to_numpy(zero_copy_only=False)
                    uniform = bool(((o[1:] - o[:-1]) == m).all())
                if uniform:
                    return vals.astype(dtype, copy=False).reshape(n, m)
    except Exception:  # pragma: no cover - fall back to the slow exact path
        pass
    return np.vstack([np.asarray(v, dtype=dtype) for v in arr.to_pylist()])


def pairwise_cosine_arrow(df, v1_col: str, v2_col: str, out_col: str = "cosine", digits: int = 6):
    """Candidate-pair exact-cosine verification as ONE ``mapInArrow`` pass:
    drops the two vector columns and appends ``out_col`` (double), keeping
    every other input column.

    Value-identical to ``cosine_rounded_arrow`` (same float64 einsum, same
    round-to-``digits``), but the vectors cross the Python boundary as raw
    Arrow buffers (`_list_matrix`) instead of per-row object conversion —
    measured ~4x on the 1.28M-pair embedding verify at sf0.1. Being a map
    node rather than an expression, it also cannot be duplicated by
    filter-pushdown, so the ``asNondeterministic`` workaround that
    ``cosine_rounded_arrow`` needs does not apply.
    """
    from pyspark.sql.types import DoubleType

    keep = [f for f in df.schema.fields if f.name not in (v1_col, v2_col)]
    out_schema = StructType(list(keep) + [StructField(out_col, DoubleType())])
    names = [f.name for f in keep] + [out_col]

    def _fn(batches):
        import pyarrow as pa

        for b in batches:
            A = _list_matrix(b.column(b.schema.get_field_index(v1_col)))
            B = _list_matrix(b.column(b.schema.get_field_index(v2_col)))
            if len(A):
                dots = np.einsum("ij,ij->i", A, B)
                na = np.einsum("ij,ij->i", A, A)
                nb = np.einsum("ij,ij->i", B, B)
                cos = np.round(dots / np.sqrt(na * nb), digits)
            else:
                cos = np.empty(0, dtype=np.float64)
            cols = [b.column(b.schema.get_field_index(f.name)) for f in keep]
            cols.append(pa.array(cos, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(_fn, out_schema)


def pairwise_cosine_gather(
    pairs,
    id_rows: list,
    id1_col: str = "id1",
    id2_col: str = "id2",
    out_col: str = "cosine",
    digits: int = 6,
):
    """Candidate-pair exact-cosine verification against a GATHERED vector
    matrix: ``pairs`` carries only the two id columns; the ``(id, vector)``
    rows ship once per task in the closure and each Arrow batch gathers its
    operand rows by binary search (guide §8 — "make every shuffle but the
    last operate on a lightweight proxy"). Versus the join-attach form
    (:func:`pairwise_cosine_arrow`) this removes BOTH per-pair vector
    duplications: a 1.28M-pair verify ships ~15 MB of id pairs + one
    ~1 MB matrix per task instead of ~1.3 GB of duplicated vectors across
    the Python boundary. The arithmetic is the identical float64 einsum +
    round-to-``digits`` on the identical vector values, so results are
    bit-equal (asserted in tests/test_vectors_arrow.py).

    ``id_rows`` must cover every id referenced by ``pairs`` and be
    BROADCAST-SIZED — callers gate on the same budget a broadcast-join
    build side would use and fall back to the join form above it."""
    from pyspark.sql.types import DoubleType

    ids = np.array([r[0] for r in id_rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    Vm = np.vstack(
        [np.asarray(id_rows[i][1], dtype=np.float64) for i in order]
    )
    keep = list(pairs.schema.fields)
    out_schema = StructType(list(keep) + [StructField(out_col, DoubleType())])
    names = [f.name for f in keep] + [out_col]

    def _fn(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows:
                a1 = b.column(b.schema.get_field_index(id1_col)).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
                a2 = b.column(b.schema.get_field_index(id2_col)).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
                A = Vm[np.searchsorted(ids, a1)]
                B = Vm[np.searchsorted(ids, a2)]
                dots = np.einsum("ij,ij->i", A, B)
                na = np.einsum("ij,ij->i", A, A)
                nb = np.einsum("ij,ij->i", B, B)
                cos = np.round(dots / np.sqrt(na * nb), digits)
            else:
                cos = np.empty(0, dtype=np.float64)
            cols = [b.column(i) for i in range(b.num_columns)]
            cols.append(pa.array(cos, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, names)

    return pairs.mapInArrow(_fn, out_schema)


def dot(a: str | Column, b: str | Column) -> Column:
    prod = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm_sq(a: str | Column) -> Column:
    return dot(a, a)


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


def cosine_rounded(a: str | Column, b: str | Column, digits: int = 6) -> Column:
    """Cross-engine-stable cosine (see module docstring)."""
    return F.round(cosine(a, b), digits)


def hyperplane_table_keys(
    df,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    bits_per_table: int,
    extra_cols: tuple[str, ...] = (),
    out_id: str = "id",
    out_col: str = "tkeys",
):
    """``(out_id, *extra_cols, tkeys)`` rows where ``tkeys[t]`` is table
    *t*'s bucket key as a packed long (bit *j* of the table contributes
    ``1 << j``).

    The dot products run as ONE fused ``X @ W`` numpy matmul per Arrow
    batch (``mapInArrow``) — see the module docstring for why this beats
    both interpreted HOF lambdas and the explode+join+N-SUM-agg codegen
    form — and the per-table keys come out as longs computed in the same
    batch: no bit-string materialization and no per-row ``substring``
    slicing in the downstream plan. A packed long and the table's
    '0'/'1' sign-bit string are in bijection, so candidate sets — and any
    oracle mirroring the bit-string form — are the same. A sign can differ
    from a sequential-fold engine only when a dot product sits within
    summation-reordering error (~1e-13) of zero.
    """
    from pyspark.sql.types import ArrayType, LongType

    W = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
    n_tables = len(planes) // bits_per_table
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)
    src = df.select(
        F.col(id_col).alias(out_id),
        *[F.col(c) for c in extra_cols],
        F.col(vec_col).alias("_v"),
    )
    keep = [f for f in src.schema.fields if f.name != "_v"]
    out_schema = StructType(list(keep) + [StructField(out_col, ArrayType(LongType()))])
    names = [f.name for f in keep] + [out_col]

    def _keys(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n:
                X = _list_matrix(b.column(b.schema.get_field_index("_v")))
                bits = (X @ W >= 0).astype(np.int64)  # (n, n_tables*b)
                keys = bits.reshape(n, n_tables, bits_per_table) @ weights
                offs = pa.array(
                    np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32),
                    pa.int32(),
                )
                kcol = pa.ListArray.from_arrays(
                    offs, pa.array(keys.ravel(), pa.int64())
                )
            else:
                kcol = pa.array([], pa.list_(pa.int64()))
            cols = [b.column(b.schema.get_field_index(f.name)) for f in keep]
            cols.append(kcol)
            yield pa.RecordBatch.from_arrays(cols, names)

    return src.mapInArrow(_keys, out_schema)


def cosine_rounded_arrow(digits: int = 6):
    """Arrow-vectorized pairwise cosine over two ``array<float>`` columns —
    a ``pandas_udf`` for *candidate verification* joins, where each row
    carries its own (a, b) pair and the batch reduces to three fused numpy
    row-wise products instead of 3 interpreted HOF folds per row.
    Same double-cast + round-to-``digits`` determinism policy as
    `cosine_rounded`.

    Returned marked ``asNondeterministic()`` — the function IS pure, but the
    marker stops Catalyst from collapsing ``select(cos).where(...)`` into
    filter-then-reproject, which re-ran the Arrow batch on every surviving
    row (two ArrowEvalPython nodes for one logical evaluation; the dominant
    cost of the embedding-dedup verify stage).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a, b):
        import pandas as pd

        if not len(a):
            return pd.Series([], dtype="float64")
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in a])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in b])
        dots = np.einsum("ij,ij->i", A, B)
        na = np.einsum("ij,ij->i", A, A)
        nb = np.einsum("ij,ij->i", B, B)
        return pd.Series(np.round(dots / np.sqrt(na * nb), digits))

    return _cos.asNondeterministic()


def matrix_dots(
    df,
    vec_col: str,
    id_col: str,
    matrix: list[list[float]],
    out_id: str = "id",
    out_col: str = "dots",
):
    """``(out_id, dots)`` rows where ``dots[k]`` is the dot product of the
    vector with ``matrix[k]`` — one fused ``X @ M.T`` per Arrow batch.
    The K x dim matrix (e.g. an IVF codebook) ships in the closure."""
    from pyspark.sql.types import ArrayType, DoubleType

    M = np.array(matrix, dtype=np.float64)  # (k, dim)
    nk = M.shape[0]
    src = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("_v"))
    keep = [f for f in src.schema.fields if f.name != "_v"]
    out_schema = StructType(
        list(keep) + [StructField(out_col, ArrayType(DoubleType()))]
    )
    names = [f.name for f in keep] + [out_col]

    def _dots(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n:
                X = _list_matrix(b.column(b.schema.get_field_index("_v")))
                D = X @ M.T  # (n, k)
                offs = pa.array(
                    np.arange(0, (n + 1) * nk, nk, dtype=np.int32), pa.int32()
                )
                dcol = pa.ListArray.from_arrays(
                    offs, pa.array(D.ravel(), pa.float64())
                )
            else:
                dcol = pa.array([], pa.list_(pa.float64()))
            cols = [b.column(b.schema.get_field_index(f.name)) for f in keep]
            cols.append(dcol)
            yield pa.RecordBatch.from_arrays(cols, names)

    return src.mapInArrow(_dots, out_schema)


def seeded_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure python LCG — no numpy
    RNG state, reproducible across platforms)."""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes
