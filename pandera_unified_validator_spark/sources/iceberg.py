"""Iceberg table source (import-gated — the Iceberg runtime jar is not in
this container).

The north rule targets Iceberg tables of token sequences; everything the
engine does is format-agnostic (it consumes a DataFrame), so Iceberg support
is a reader + the partition-pruned resume path. With the jar present:

    spark = get_spark(extra_conf={
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.lake.type": "hadoop",
        "spark.sql.catalog.lake.warehouse": "s3://bucket/warehouse",
    })
    df = read_iceberg(spark, "lake.db.tokens", snapshot_id=...)

Partition-group validation maps onto Iceberg naturally: groups = partitions
from the ``.partitions`` metadata table; the lineage log keys on partition
values instead of file lists; snapshot pinning makes resume exactly-once
against a moving table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "iceberg_available",
    "read_iceberg",
    "current_snapshot_id",
]


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable in this session."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_iceberg(
    spark: SparkSession,
    table: str,
    *,
    snapshot_id: int | None = None,
    as_of_timestamp: int | None = None,
) -> DataFrame:
    """Read an Iceberg table, optionally time-travelled (snapshot pinning is
    what makes checkpoint/resume exactly-once on a table being appended to)."""
    if not iceberg_available(spark):
        raise NotImplementedError(
            "Iceberg runtime jar not on the classpath in this container; "
            "add org.apache.iceberg:iceberg-spark-runtime and a catalog conf "
            "(see module docstring). All validation APIs accept any DataFrame."
        )
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    if as_of_timestamp is not None:
        reader = reader.option("as-of-timestamp", str(as_of_timestamp))
    return reader.table(table)


def current_snapshot_id(spark: SparkSession, table: str) -> int:
    """The table's current (latest committed) snapshot id, from the
    ``.snapshots`` metadata table — a metadata read, no data scan. Used by
    ``run_iceberg`` to PIN an unpinned run up front so its lineage markers
    name a concrete snapshot (resuming against markers stamped "latest"
    would silently skip partitions that changed since — advice r4).
    Ordered by (committed_at DESC, snapshot_id DESC): Iceberg commit
    timestamps are millisecond-resolution and back-to-back commits can
    tie, which would make the resolved "current" snapshot — and hence the
    resume lineage markers — nondeterministic (advice r5)."""
    if not iceberg_available(spark):
        raise NotImplementedError("Iceberg runtime jar not available (see read_iceberg)")
    from pyspark.sql import functions as F

    row = (
        spark.read.table(f"{table}.snapshots")
        .orderBy(F.desc("committed_at"), F.desc("snapshot_id"))
        .select("snapshot_id")
        .first()
    )
    if row is None:
        raise ValueError(f"iceberg table {table!r} has no snapshots")
    return int(row[0])

