"""Portable deterministic hashing — identical values in Spark and any ANSI-SQL
engine (the DuckDB correctness oracle replicates these expressions verbatim).

Spark's ``hash``/``xxhash64`` are Spark-specific; an oracle can't reproduce
them. Instead: ``md5`` (bit-identical everywhere) → first 15 hex chars → base-16
to decimal → long. 15 hex chars = 60 bits, safely inside a signed 64-bit int.

Spark:   conv(substring(md5(concat(salt, x)), 1, 15), 16, 10)::long
DuckDB:  ('0x' || substr(md5(salt || x), 1, 15))::BIGINT

Used by: exact dedup keys, MinHash signatures, SimHash bit hashes, LSH band
keys, document fingerprints. All JVM-side built-ins — whole-stage codegen, no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column | str, salt: str = "") -> Column:
    """60-bit deterministic hash of a string column, reproducible in ANSI SQL."""
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(salt), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_key(col: Column | str) -> Column:
    """Full 128-bit content key as hex text (exact-dedup grouping key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def py_hash64(s: str, salt: str = "") -> int:
    """Driver-side Python twin of :func:`portable_hash64` — same 60 bits."""
    import hashlib

    return int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)


def hash_stream(salt: str, count: int):
    """Deterministic pseudo-random 60-bit stream: h(salt || index).

    The engine-portable replacement for an RNG in sampling operators: any
    engine that has md5 (Spark, DuckDB, the local Python oracle) reproduces
    the identical stream, so sampled-estimator results are value-verifiable
    cross-engine at any scale factor — no seed lists to ship around.

    DRIVER-SIDE Python loop by design: callers must keep ``count`` k-sized
    (k ≈ log₂n/2ε² draws, not O(n) windows — those are generated IN-PLAN via
    ``spark.range`` + ``portable_hash64``, see
    ``operators.avgdist.sample_pair_rejection_hash``).
    """
    if count > 5_000_000:
        raise ValueError(
            f"hash_stream(count={count}) is a driver-side loop; "
            "generate O(n) windows in-plan via spark.range + portable_hash64"
        )
    import numpy as np

    return np.array([py_hash64(str(j), salt) for j in range(count)], dtype=np.int64)
