"""Compaction: key-latest dedup over archived records.

The reference never finished this — interfaces plus an empty-SQL Postgres COPY
skeleton (core-compaction/.../PostgresJDBCDatabase.scala:46-47 ``val sql =
""""""``; compaction-s3/.../StorageClient.scala:40 ends in ``???``). The intent
(GCS config ``compactionBucket``, core-gcs/.../configs/GCS.scala:9) is Kafka
log compaction: keep the latest record per key.

Spark-first: arg-max per (topic, partition, key) via a ranking window — one
shuffle on the key, no driver-side state. Records with a NULL key are kept
as-is (Kafka semantics: un-keyed records are never compacted away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_latest_by_key(
    records: DataFrame, key_cols: tuple[str, ...] = ("topic", "partition", "key")
) -> DataFrame:
    """Latest record per key; later = greater (timestamp, offset). NULL-key
    records pass through uncompacted, duplicates included.

    One scan: a NULL-key row gets a window partition of its own (a unique
    ``monotonically_increasing_id`` in the partition spec), so it is always
    its partition's row 1 and the filter stays a pure ``__rn == 1``. That
    keeps Spark's map-side ``WindowGroupLimit`` (Partial) before the
    exchange; a ``key IS NULL OR __rn == 1`` filter would drop it."""
    null_key = F.when(F.col("key").isNull(), F.monotonically_increasing_id())
    w = Window.partitionBy(*key_cols, null_key).orderBy(
        F.col("timestamp").desc(), F.col("offset").desc()
    )
    return records.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
