"""Hash-sketch helpers shared by the dedup operators: permutation
parameters for MinHash and the Hamming distance of 64-bit SimHash
signatures.

The production sketch paths (``operators/dedup.py``) use md5-derived base
hashes so the ENTIRE pipeline is reproducible in DuckDB —
`dedup_minhash_lsh` and `dedup_simhash` carry exact value-level oracles;
the sketches themselves are codegen explode + aggregate plans there, not
array-lambda columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MERSENNE_P = (1 << 61) - 1


def _perm_params(k: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal-hash permutations."""
    state = seed
    out = []
    for _ in range(k):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        # keep a, b < 2^31 so a*h + b < 2^62 stays inside int64 (ANSI-safe)
        a = ((state | 1) % ((1 << 31) - 1)) or 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % (1 << 31)
        out.append((a, b))
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
