"""Vector column functions over ``array<float>`` embeddings.

Arrow/pandas UDFs only: numpy matmul per Arrow batch, no per-row Python.
They serve the corpus-scale similarity work in ``operators/similarity.py``,
``dedup.py`` and ``clustering.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "cosine_pandas_udf",
    "hyperplane_signature_udf",
    "hyperplane_signature2_udf",
]


def cosine_pandas_udf():
    """Arrow-vectorized cosine against a broadcast query vector:
    ``udf = cosine_pandas_udf(); df.select(udf(F.col('embedding'), F.lit(q)))``
    is wrong — instead close over the query: see ``similarity.brute_force_topk``.
    Returns a factory: ``make(query_list) -> pandas_udf``."""

    def make(query):
        import numpy as np

        # float64 accumulation: bit-comparable with SQL-engine double math
        q = np.asarray(query, dtype="float64")
        qn = float(np.linalg.norm(q)) or 1.0

        @F.pandas_udf(T.DoubleType())
        def _cos(col):
            import numpy as np
            import pandas as pd

            mat = np.vstack(col.to_numpy()).astype("float64")  # (batch, dim)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            return pd.Series((mat @ q) / (norms * qn))

        return _cos

    return make


def _hyperplanes(dim: int, n_bits: int, seed: int):
    """The seeded plane matrix and bit weights of one hyperplane signature:
    ``(planes (dim, n_bits) float64, weights (n_bits,) int64)``. Planes are
    a pure function of (dim, n_bits, seed), quantized to float32 (a stable
    literal embedding in SQL oracles) and widened back, so dot products
    accumulate in float64 and the SIGN of each projection is bit-comparable
    with SQL-engine double math."""
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((dim, n_bits))
    weights = (1 << np.arange(n_bits)).astype("int64")
    return planes.astype("float32").astype("float64"), weights


def _signature_udf(planes, weights):
    """Arrow UDF: per row, the sum of ``weights[j]`` over the planes ``j``
    with a positive dot product."""
    @F.pandas_udf(T.LongType())
    def _sig(col):
        import numpy as np
        import pandas as pd

        mat = np.vstack(col.to_numpy()).astype("float64")
        bits = (mat @ planes) > 0
        return pd.Series(bits @ weights)

    return _sig


def hyperplane_signature_udf(dim: int, n_bits: int = 16, seed: int = 42):
    """Random-hyperplane LSH signature (sign of dot with seeded Gaussian
    planes) as an Arrow-vectorized UDF → one integer bucket per row.
    Deterministic: planes are a pure function of (seed, dim, n_bits)."""
    return _signature_udf(*_hyperplanes(dim, n_bits, seed))


def hyperplane_signature2_udf(dim: int, n_bits: int = 16, seed: int = 42):
    """TWO independent hyperplane signatures packed into one long — the
    primary (``seed``) in the low ``n_bits`` bits, the secondary
    (``seed + 1``) shifted above it. One Arrow transfer of the vector column
    yields both levels of a two-level LSH bucket key; the primary recovered
    by ``packed & (2^n_bits − 1)`` is bit-identical to
    ``hyperplane_signature_udf(dim, n_bits, seed)`` (same quantized-plane
    draw), so oracles replaying the primary bucketing stay valid. Packing
    (rather than a struct result) guarantees the UDF is planned as ONE
    ArrowEvalPython column however Catalyst collapses the downstream
    projections that extract the two levels."""
    import numpy as np

    if 2 * n_bits > 62:
        raise ValueError(f"n_bits={n_bits}: two packed signatures need 2*n_bits <= 62")
    p1, w = _hyperplanes(dim, n_bits, seed)
    p2, _ = _hyperplanes(dim, n_bits, seed + 1)
    return _signature_udf(
        np.concatenate([p1, p2], axis=1), np.concatenate([w, w << n_bits])
    )
