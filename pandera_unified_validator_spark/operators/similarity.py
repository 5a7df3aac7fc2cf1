"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k (numpy per Arrow batch — the exact baseline) and an
LSH-bucketed approximate variant (the scale path: probe only matching-bucket
rows). No reference analogue; first-class per the task brief.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import _hyperplanes, _signature_udf, cosine_pandas_udf

__all__ = ["brute_force_topk", "lsh_topk"]


def brute_force_topk(
    corpus: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: one scan, numpy matmul per Arrow batch, global
    TakeOrdered (no full sort — Spark's top-k is a per-partition heap +
    driver merge). Deterministic tiebreak on id."""
    score = cosine_pandas_udf()(list(query))
    return (
        corpus.select(F.col(id_col), score(F.col(vec_col)).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
        .withColumn("cosine_sim", F.round("cosine_sim", 4))
    )


def lsh_topk(
    corpus: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_bits: int = 10,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucket the corpus (precomputable /
    bucketed-write in production), probe the query's bucket plus all buckets
    within ``multiprobe`` Hamming flips, exact-rerank only those rows.

    At 10^12 vectors the probe is a partition-pruned scan when the corpus is
    written partitioned by bucket; here it is a filter.

    ``multiprobe`` is the Hamming radius of the probe ball (any 0..n_bits);
    the ball has sum_{r<=multiprobe} C(n_bits, r) buckets, so large radii
    approach a full scan — values above ``n_bits`` are rejected rather than
    silently capped."""
    import itertools

    import numpy as np

    dim = len(query)
    if not 0 <= multiprobe <= n_bits:
        raise ValueError(
            f"multiprobe must be in [0, n_bits={n_bits}], got {multiprobe}"
        )
    # the corpus UDF's own planes, so the query lands in the bucket it assigns
    planes, weights = _hyperplanes(dim, n_bits, seed)
    sig = _signature_udf(planes, weights)
    qbucket = int(((np.asarray(query, dtype="float64") @ planes) > 0) @ weights)

    probes = {qbucket}
    for radius in range(1, multiprobe + 1):
        for flips in itertools.combinations(range(n_bits), radius):
            b = qbucket
            for j in flips:
                b ^= 1 << j
            probes.add(b)

    tagged = corpus.withColumn("__bucket", sig(F.col(vec_col)))
    candidates = tagged.filter(F.col("__bucket").isin(list(probes)))
    return brute_force_topk(candidates, query, k, id_col, vec_col)

