"""Structured Streaming validation (S4: async record stream,
reference ``core/streaming.py:255-282``).

The reference buffered an async dict iterator into pandas chunks; the Spark
shape is ``readStream → foreachBatch(validate)``: each micro-batch runs the
same one-pass check plan, verdicts accumulate into ``ValidationMetrics`` on
the driver, and violation rows can be teed to a sink for quarantine.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.validator import ROW_OK, SparkValidator
from ..utils.reporting import ValidationMetrics

__all__ = [
    "StreamingValidationSink",
    "validate_stream",
    "windowed_error_rates",
    "stateful_error_monitor",
    "bloom_config",
    "cross_batch_unique_monitor",
]

_LOG = logging.getLogger(__name__)


class StreamingValidationSink:
    """foreachBatch target: validates each micro-batch, accumulates metrics.

    ``violations_path`` (optional) appends failing rows + labels as parquet —
    the quarantine pattern for a training-data ingest pipeline.
    """

    def __init__(
        self,
        validator: SparkValidator,
        violations_path: str | None = None,
        on_batch: Callable[[int, ValidationMetrics], None] | None = None,
    ) -> None:
        self.validator = validator
        self.violations_path = violations_path
        self.on_batch = on_batch
        self.metrics = ValidationMetrics()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        res = self.validator.validate(batch_df)
        fails = {c.name: c.n_failed for c in res.report.checks if c.n_failed}
        self.metrics.update(
            res.report.n_rows - res.report.n_invalid_rows,
            res.report.n_invalid_rows,
            fails,
        )
        if self.violations_path and res.report.n_invalid_rows:
            (
                res.flat_violations()
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(self.violations_path)
            )
        if self.on_batch:
            self.on_batch(batch_id, self.metrics)


def windowed_error_rates(
    stream_df: DataFrame,
    validator: SparkValidator,
    ts_col: str,
    *,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-event-time-window validation quality: watermarked tumbling/sliding
    windows aggregating row-pass/fail counts per check — the streaming
    analogue of the per-partition verdict (late data handled by the
    watermark; output is append-safe once windows close).

    Returns a streaming DataFrame (window, n_rows, n_invalid, error_rate,
    <one fail-count column per check>). Caller attaches a sink.
    """
    annotated, checks, _ = validator.annotate(stream_df)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"))
        .agg(*validator.fail_counts([c.name for c in checks]))
        .withColumnRenamed("n_invalid_rows", "n_invalid")
        .withColumn("error_rate", F.col("n_invalid") / F.col("n_rows"))
    )


def stateful_error_monitor(
    stream_df: DataFrame,
    validator: SparkValidator,
    key_col: str,
    *,
    error_threshold: float = 0.2,
    min_rows: int = 100,
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``): per
    ``key_col`` group (e.g. ``source``), carry running validation totals
    across micro-batches and trip a sticky circuit-breaker flag once the
    cumulative error rate exceeds ``error_threshold`` (after ``min_rows``
    rows) — the streaming analogue of the runner's early-termination
    breaker, with state Spark checkpoints and restores for exactly-once
    recovery. Rows are validated by the usual one-pass check plan BEFORE
    keyed grouping, so the Python state function only sees (key, ok) pairs,
    never payload columns.

    Returns a streaming DataFrame (key, batch_rows, batch_invalid,
    total_rows, total_invalid, error_rate, tripped); attach with output
    mode "update".
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    annotated, _checks, _ = validator.annotate(stream_df)
    sel = annotated.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ROW_OK).alias("__ok"),
    )
    out_schema = (
        "key string, batch_rows long, batch_invalid long, total_rows long, "
        "total_invalid long, error_rate double, tripped boolean"
    )
    state_schema = "total_rows long, total_invalid long, tripped boolean"

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            total_rows, total_invalid, tripped = state.get
        else:
            total_rows, total_invalid, tripped = 0, 0, False
        batch_rows = batch_invalid = 0
        for pdf in pdfs:
            batch_rows += len(pdf)
            batch_invalid += int((~pdf["__ok"].astype(bool)).sum())
        total_rows += batch_rows
        total_invalid += batch_invalid
        rate = total_invalid / total_rows if total_rows else 0.0
        tripped = bool(
            tripped or (total_rows >= min_rows and rate > error_threshold)
        )
        state.update((total_rows, total_invalid, tripped))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "batch_rows": [batch_rows],
                "batch_invalid": [batch_invalid],
                "total_rows": [total_rows],
                "total_invalid": [total_invalid],
                "error_rate": [rate],
                "tripped": [tripped],
            }
        )

    return sel.groupBy("key").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def bloom_config(
    expected_keys: int, fp_rate: float = 0.01, n_buckets: int = 16
) -> dict[str, int]:
    """Size the cross-batch uniqueness monitor for a key cardinality: the
    standard Bloom formulas ``m = −n·ln p ⁄ (ln 2)²`` bits and
    ``k = (m/n)·ln 2`` probes, applied per shard (``n = expected_keys /
    n_buckets``), with ``bloom_bits`` rounded UP to the next power of two
    (the double-hash odd stride cycles the whole filter only when the bit
    count is a power of two). Feed the result straight into
    ``cross_batch_unique_monitor(**bloom_config(10**9, 0.01))`` — e.g.
    10^9 keys at 1% FP ≈ 16 shards × 2^30 bits ≈ 2.1 GB total state."""
    import math

    if expected_keys < 1:
        raise ValueError("expected_keys must be >= 1")
    if not 0.0 < fp_rate < 1.0:
        raise ValueError("fp_rate must be in (0, 1)")
    per_shard = max(1, math.ceil(expected_keys / n_buckets))
    m = -per_shard * math.log(fp_rate) / (math.log(2) ** 2)
    bits = 1 << max(6, math.ceil(math.log2(m)))  # ≥ 64, power of two
    probes = max(1, round(bits / per_shard * math.log(2)))
    return {"n_buckets": n_buckets, "bloom_bits": bits, "n_probes": probes}


def cross_batch_unique_monitor(
    stream_df: DataFrame,
    key_col: str,
    *,
    n_buckets: int = 16,
    bloom_bits: int = 1 << 20,
    n_probes: int = 7,
    max_flagged_keys: int = 20,
    saturation_fp: float = 0.05,
) -> DataFrame:
    """Cross-micro-batch PROBABLE-duplicate detection for a declared-unique
    key on an unbounded stream — the actionable counterpart to the engine's
    "unique skipped on stream" warning (exact uniqueness is undefined on an
    unbounded stream; per-batch uniqueness runs in foreachBatch).

    Custom stateful operator (``applyInPandasWithState``): keys are hashed
    and sharded into ``n_buckets`` groups; each group's state is ONE
    fixed-size Bloom filter (``bloom_bits`` bits, ``n_probes`` double-hashed
    probes) that Spark checkpoints and restores with the query. Per batch
    each key is tested against the filter BEFORE the batch inserts (plus a
    within-batch repeat check), so the memory bound is
    ``n_buckets * bloom_bits / 8`` bytes FOREVER, regardless of stream
    length — the only way to honor 10^12-key streams without per-key state.
    One-sided error, the safe side for a monitor: a key reported
    ``probable_dups`` may be a false positive (rate ≈ fill^probes, reported
    as ``fill_ratio``), but a key never seen is NEVER flagged, and a true
    repeat is ALWAYS flagged. Defaults hold ~100k keys/bucket at <1% FP
    (~1.6M keys total in 2 MB state); scale ``n_buckets`` (parallelism +
    capacity) and ``bloom_bits`` (per-shard capacity) together for larger
    key spaces.

    Returns a streaming DataFrame (bucket, batch_rows, probable_dups,
    total_rows, total_probable_dups, fill_ratio, saturated, flagged);
    attach with output mode "update". ``flagged`` carries up to
    ``max_flagged_keys`` flagged key values per bucket per batch (the
    smallest, so the sample is deterministic for a given batch content) —
    the quarantine breadcrumb; set 0 to keep rows hash-only through the
    shuffle. Null keys are ignored (nullability is its own check).

    ``saturated`` goes TRUE (with a worker-log warning; the column is the
    portable signal) once the shard's
    estimated false-positive rate ``fill_ratio ** n_probes`` exceeds
    ``saturation_fp`` (default 5%): a stream that outgrows its filter
    degrades toward flagging everything, and that must be a signal, not a
    silent drift. Size ahead with ``bloom_config(expected_keys, fp_rate)``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if bloom_bits % 64:
        raise ValueError("bloom_bits must be a multiple of 64")
    sel = stream_df.where(F.col(key_col).isNotNull()).select(
        F.xxhash64(F.col(key_col)).alias("__kh"),
        *(
            [F.col(key_col).cast("string").alias("__key")]
            if max_flagged_keys > 0
            else []
        ),
    )
    sel = sel.withColumn("__bucket", F.pmod(F.col("__kh"), F.lit(n_buckets)).cast("int"))
    out_schema = (
        "bucket int, batch_rows long, probable_dups long, total_rows long, "
        "total_probable_dups long, fill_ratio double, saturated boolean, "
        "flagged array<string>"
    )
    state_schema = "filter binary, total_rows long, total_probable_dups long"
    m = bloom_bits
    probes = n_probes
    sat_fp = saturation_fp

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            fbytes, total_rows, total_dups = state.get
            filt = np.frombuffer(fbytes, dtype=np.uint8).copy()
        else:
            filt = np.zeros(m // 8, dtype=np.uint8)
            total_rows, total_dups = 0, 0
        batch_rows = 0
        batch_dups = 0
        flagged: list[str] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            kh = pdf["__kh"].to_numpy().astype(np.uint64)
            batch_rows += len(kh)
            # double hashing: position_p = (h1 + p*h2) mod m; h1/h2 from one
            # 64-bit hash via a splitmix-style remix (all uint64 wraparound)
            h1 = kh
            h2 = kh.copy()
            h2 ^= h2 >> np.uint64(33)
            h2 *= np.uint64(0xFF51AFD7ED558CCD)
            h2 ^= h2 >> np.uint64(33)
            h2 |= np.uint64(1)  # odd stride: full cycle over m (power of 2)
            # membership BEFORE this batch inserts
            seen = np.ones(len(kh), dtype=bool)
            pos_list = []
            for p in range(probes):
                pos = (h1 + np.uint64(p) * h2) % np.uint64(m)
                pos_list.append(pos)
                seen &= (filt[(pos >> np.uint64(3)).astype(np.int64)]
                         >> (pos & np.uint64(7)).astype(np.uint8)) & 1 > 0
            # within-batch repeats: occurrences after a key's first are dups
            _, first_idx = np.unique(kh, return_index=True)
            repeat = np.ones(len(kh), dtype=bool)
            repeat[first_idx] = False
            dup = seen | repeat
            batch_dups += int(dup.sum())
            if max_flagged_keys > 0 and dup.any():
                flagged.extend(pd.unique(pdf["__key"].to_numpy()[dup]))
            for pos in pos_list:  # insert the whole batch
                np.bitwise_or.at(
                    filt,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
                )
        total_rows += batch_rows
        total_dups += batch_dups
        fill = float(np.unpackbits(filt).mean()) if batch_rows else 0.0
        # estimated FP rate of a standard Bloom filter = fill^probes; past
        # the threshold the monitor is degrading toward flagging everything
        saturated = bool(fill**probes > sat_fp)
        if saturated:
            _LOG.warning(
                "cross_batch_unique_monitor bucket %s SATURATED: fill_ratio "
                "%.3f -> est. false-positive rate %.3f > %.3f; raise "
                "bloom_bits/n_buckets (see bloom_config())",
                key[0],
                fill,
                fill**probes,
                sat_fp,
            )
        state.update((filt.tobytes(), total_rows, total_dups))
        yield pd.DataFrame(
            {
                "bucket": [key[0]],
                "batch_rows": [batch_rows],
                "probable_dups": [batch_dups],
                "total_rows": [total_rows],
                "total_probable_dups": [total_dups],
                "fill_ratio": [round(fill, 6)],
                "saturated": [saturated],
                # smallest-N: deterministic for a given batch content
                "flagged": [sorted(set(flagged))[:max_flagged_keys]],
            }
        )

    return sel.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def validate_stream(
    stream_df: DataFrame,
    validator: SparkValidator,
    *,
    violations_path: str | None = None,
    checkpoint_location: str | None = None,
    on_batch: Callable[[int, ValidationMetrics], None] | None = None,
):
    """Attach validation to a streaming DataFrame; returns (query, sink).

    Caller drives the query (``processAllAvailable()`` for batch-drain tests,
    ``awaitTermination()`` in production).
    """
    sink = StreamingValidationSink(validator, violations_path, on_batch)
    writer = stream_df.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start(), sink
