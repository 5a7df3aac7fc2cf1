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


def hyperplane_signature_udf(dim: int, n_bits: int = 16, seed: int = 42):
    """Random-hyperplane LSH signature (sign of dot with seeded Gaussian
    planes) as an Arrow-vectorized UDF → one integer bucket per row.
    Deterministic: planes are a pure function of (seed, dim, n_bits)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    # planes quantized to float32 (stable literal embedding in SQL oracles),
    # dot products accumulated in float64 so the SIGN of each projection is
    # bit-comparable with SQL-engine double math
    planes = rng.standard_normal((dim, n_bits)).astype("float32").astype("float64")
    weights = (1 << np.arange(n_bits)).astype("int64")

    @F.pandas_udf(T.LongType())
    def _sig(col):
        import numpy as np
        import pandas as pd

        mat = np.vstack(col.to_numpy()).astype("float64")
        bits = (mat @ planes) > 0
        return pd.Series(bits @ weights)

    return _sig


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
    p1 = np.random.RandomState(seed).standard_normal((dim, n_bits))
    p2 = np.random.RandomState(seed + 1).standard_normal((dim, n_bits))
    planes = np.concatenate([p1, p2], axis=1).astype("float32").astype("float64")
    weights = np.concatenate(
        [(1 << np.arange(n_bits)), (1 << (np.arange(n_bits) + n_bits))]
    ).astype("int64")

    @F.pandas_udf(T.LongType())
    def _sig2(col):
        import numpy as np
        import pandas as pd

        mat = np.vstack(col.to_numpy()).astype("float64")
        bits = (mat @ planes) > 0
        return pd.Series(bits @ weights)

    return _sig2
