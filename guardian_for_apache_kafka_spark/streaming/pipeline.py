"""Structured-Streaming backup pipeline (SURVEY.md §7 M3).

The reference's continuous backup (§3.1: Kafka consume -> slice -> serialize ->
multipart upload -> commit offsets after upload) maps onto:

- source: ``spark.readStream.format("kafka")`` in production;
  a schema'd file stream here (no broker in this harness) — the source is an
  argument, everything downstream is source-agnostic.
- slice assignment: the same ``slice_col`` expression as batch (stateless for
  ChronoUnitSlice — no boundary-detection operator, no watermark needed for
  the *archival* path).
- sink: partitioned streaming file sink with checkpointing. Spark's
  ``_spark_metadata`` commit log + offset tracking IS the reference's
  commit-after-upload + resume protocol (K2/K4/T8/T9, ~300 LoC there) —
  records are committed to the checkpoint only after their files are
  durably written, and a killed query resumes by replaying the uncommitted
  micro-batch into new atomically-committed files.
- PeriodFromFirst anchoring (§4.3): the anchor (first record's event time)
  is captured on the first micro-batch and persisted next to the checkpoint,
  making restarts reuse the same anchor — strictly stronger than the
  reference, which opens a new anchor/file per run (TimeConfiguration.scala:9-14).

Slice-closure semantics divergence (documented, SURVEY.md §2.2): the reference
closes a slice only when a later-slice record arrives (isAtBoundary); the
watermarked aggregation path closes on event-time progress. Observable only
for idle-then-burst topics; the archival path has no closure at all (files
append per micro-batch and readers see slices grow), which matches the
reference's resumable ChronoUnitSlice behavior.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
from guardian_for_apache_kafka_spark.core.timeslice import (
    ChronoUnitSlice,
    PeriodFromFirst,
    TimeConfiguration,
    slice_col,
)
from guardian_for_apache_kafka_spark.operators.backup import _json_lines, backup_batch


def records_file_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A deterministic streaming source over parquet record files — the test
    stand-in for the Kafka source (the reference does the same with its mocked
    consumer, core-backup/src/test/.../MockedKafkaConsumerInterface.scala:34-128)."""
    reader = spark.readStream.schema(RECORD_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def _anchor_path(checkpoint: str) -> str:
    return os.path.join(checkpoint, "_guardian_anchor.json")


def _load_or_store_anchor(checkpoint: str, batch_df: DataFrame) -> int | None:
    """Run-scoped PeriodFromFirst anchor, persisted beside the checkpoint so a
    restarted query keeps slicing against the same origin (§4.3 option (a))."""
    p = _anchor_path(checkpoint)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)["anchor_us"]
    row = batch_df.agg(F.min(F.unix_micros("timestamp")).alias("a")).collect()[0]
    if row["a"] is None:
        return None
    os.makedirs(checkpoint, exist_ok=True)
    with open(p, "w") as fh:
        json.dump({"anchor_us": int(row["a"])}, fh)
    return int(row["a"])


def _start_foreach_batch(
    stream: DataFrame, write_batch, checkpoint: str, available_now: bool
) -> StreamingQuery:
    """The one foreachBatch runner: offsets commit to ``checkpoint`` only
    after ``write_batch(batch_df, batch_id)`` returns, so a killed query
    replays its last batch under the same id (each sink documents how it
    absorbs that). ``available_now`` drains what is available and stops."""
    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _instance_scoped(dest: str, checkpoint: str, instance_id: str | None) -> tuple[str, str]:
    """Resolve the per-instance sink/checkpoint roots for the shared-archive
    multi-writer layout (the reference's concurrent-instances deployment,
    backup-s3/src/test/.../RealS3BackupClientTest.scala concurrent specs):
    each instance owns ``<dest>/<instance_id>`` + ``<checkpoint>/<instance_id>``
    and ``restore_batch(..., instances=True)`` unions the instance roots."""
    if instance_id is None:
        return dest, checkpoint
    if (
        not instance_id
        or "/" in instance_id
        or instance_id.startswith(("_", ".", "slice="))
    ):
        # "_"/"." roots are skipped by the instance-union listing; a
        # "slice=" root would be mistaken for a slice partition directory
        raise ValueError(f"invalid instance_id: {instance_id!r}")
    return f"{dest.rstrip('/')}/{instance_id}", f"{checkpoint.rstrip('/')}/{instance_id}"


def stream_backup(
    records: DataFrame,
    dest: str,
    checkpoint: str,
    config: TimeConfiguration | None = None,
    compression: str | None = None,
    available_now: bool = True,
    instance_id: str | None = None,
) -> StreamingQuery:
    """Native streaming archival: slice assignment as a stateless column, then
    the partitioned streaming text sink (JSON-lines wire format). Exactly-once
    to the archive via checkpoint + ``_spark_metadata``. ChronoUnitSlice only —
    PeriodFromFirst needs the anchored variant below.

    Concurrency note: one query per destination root — the native file sink
    owns its ``_spark_metadata``, and even plain concurrent batch appends
    race in ``_temporary`` staging with the default committer. Multiple
    backup instances (the reference's concurrent-instances deployment) pass
    a shared archive/checkpoint root plus a distinct ``instance_id``: the
    query then owns ``<dest>/<instance_id>``, and
    ``restore_batch(..., instances=True)`` reads the union of the roots."""
    dest, checkpoint = _instance_scoped(dest, checkpoint, instance_id)
    config = config or ChronoUnitSlice("HOURS")
    if isinstance(config, PeriodFromFirst):
        raise ValueError("use stream_backup_foreach_batch for PeriodFromFirst (anchored) mode")
    writer = (
        _json_lines(records, config).writeStream.format("text")
        .partitionBy("slice")
        .option("path", dest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if compression:
        writer = writer.option("compression", compression)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_backup_foreach_batch(
    records: DataFrame,
    dest: str,
    checkpoint: str,
    config: TimeConfiguration,
    available_now: bool = True,
    instance_id: str | None = None,
) -> StreamingQuery:
    """foreachBatch archival supporting PeriodFromFirst: batch 0 captures and
    persists the anchor; every batch is then one ``backup_batch`` append
    (partitioned JSON-lines, the same deterministic slice expression).
    ``instance_id`` scopes the sink/checkpoint roots for the shared-archive
    multi-writer layout exactly as in ``stream_backup``.

    At-least-once under replay: a batch replayed after a crash before its
    checkpoint commit appends its records again, and ``restore_batch``
    returns both copies. ``stream_backup`` and
    ``operators/commitlog.stream_committed_backup`` are exactly-once."""
    dest, checkpoint = _instance_scoped(dest, checkpoint, instance_id)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        anchor = None
        if isinstance(config, PeriodFromFirst):
            anchor = _load_or_store_anchor(checkpoint, batch_df)
            if anchor is None:
                return
        backup_batch(batch_df, dest, config, anchor_us=anchor)

    return _start_foreach_batch(records, write_batch, checkpoint, available_now)


def stream_slice_counts(
    records: DataFrame,
    watermark: str | None = "1 hour",
    slice_duration: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window slice statistics (the streaming twin of G2):
    append-mode windows close when the event-time watermark passes — the
    documented divergence from the reference's close-on-next-record rule.
    ``watermark=None`` keeps all windows open (complete-mode usage)."""
    if watermark is not None:
        records = records.withWatermark("timestamp", watermark)
    return (
        records
        .groupBy(F.window("timestamp", slice_duration).alias("win"), F.col("topic"))
        .agg(F.count("*").alias("record_cnt"))
        .select(
            F.col("win.start").alias("slice"),
            "topic",
            "record_cnt",
        )
    )


def stream_restore(
    spark: SparkSession,
    archive: str,
    topics: set[str] | None = None,
    from_when=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Rate-limited streaming restore (SURVEY.md §3.2's Spark equivalent):
    read the JSON-lines archive as a file stream — ``maxFilesPerTrigger``
    bounds replay throughput per micro-batch, the knob the reference lacks
    (its restore floods the producer as fast as S3 downloads arrive). Route
    the result to write_records_to_kafka for a paced point-in-time replay, or
    any sink for ETL re-processing. Record-exact filters match restore_batch
    (R6), but no slice is pruned: the file stream reads every ``slice=``
    directory and ``from_when`` only filters records.
    Multi-instance archives: run one streaming restore per instance root
    (partition discovery forbids the intermediate instance directory under
    one basePath) — the per-root queries are independent and their sinks
    naturally union, mirroring restore_batch(..., instances=True)."""
    reader = spark.readStream.schema("value STRING, slice STRING").format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.option("basePath", archive).load(f"{archive}/slice=*")
    from guardian_for_apache_kafka_spark.core.model import (
        RECORD_JSON_SCHEMA_DDL,
        parsed_json_to_record_cols,
    )

    rec = F.from_json(F.col("value"), RECORD_JSON_SCHEMA_DDL).alias("rec")
    records = raw.select(rec).select(*parsed_json_to_record_cols(F.col("rec")))
    records = records.where(F.col("topic").isNotNull())  # null] sentinel drop
    if topics is not None:
        records = records.where(F.col("topic").isin(*sorted(topics)))
    if from_when is not None:
        records = records.where(F.col("timestamp") >= F.lit(from_when))
    return records


def stream_sliding_counts(
    records: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Sliding event-time windows (each record lands in window/slide windows) —
    the overlapping generalization of the reference's tumbling slices, used for
    rolling backup-lag/volume monitoring over the record stream."""
    if watermark is not None:
        records = records.withWatermark("timestamp", watermark)
    return (
        records.groupBy(F.window("timestamp", window, slide).alias("win"), F.col("topic"))
        .agg(F.count("*").alias("record_cnt"))
        .select(F.col("win.start").alias("win_start"), "topic", "record_cnt")
    )


def stream_session_stats(
    records: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Session windows per topic: a session closes after ``gap`` of event-time
    silence. No reference twin — the reference's PeriodFromFirst is a *fixed*
    window anchored at first arrival; sessionization is the data-dependent
    window a training-data pipeline wants for burst/session analysis."""
    if watermark is not None:
        records = records.withWatermark("timestamp", watermark)
    return (
        records.groupBy(F.session_window("timestamp", gap).alias("sess"), F.col("topic"))
        .agg(
            F.count("*").alias("record_cnt"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        )
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "topic",
            "record_cnt",
            "min_offset",
            "max_offset",
        )
    )


def stream_dedup_replays(records: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """At-least-once -> effectively-once record stream: drop exact replays by
    (topic, partition, offset) within the watermark horizon — the streaming
    equivalent of the reference's offset-resume filter (S7)."""
    return records.withWatermark("timestamp", watermark).dropDuplicates(
        ["topic", "partition", "offset"]
    )


def stream_dedup_content(records: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Content-based streaming dedup: drop records whose VALUE digest was
    already seen within the watermark horizon — the streaming twin of the
    batch exact-dedup family (d1/d2: sha2 digest as content identity).

    Uses ``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``): state
    for a digest is EVICTED once the watermark passes its event time, so
    state size is bounded by the horizon's record volume, not the stream's
    lifetime — the difference between a dedup that survives a 100 TB/day
    stream and one whose state store grows forever. Trade-off (documented
    Spark semantics): a replay arriving later than the watermark horizon is
    re-emitted; pick the horizon to cover the producer's max replay lag."""
    return (
        records.withColumn("__digest", F.sha2(F.col("value"), 256))
        .withWatermark("timestamp", watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


def stream_enrich(
    records: DataFrame,
    dim: DataFrame,
    on: str = "topic",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach a dimension table (topic
    config, user attributes, domain metadata) to a live record stream.
    Stateless by construction — the static side is re-planned per
    micro-batch (picking up dimension updates between batches) and
    BROADCAST, so the stream side never shuffles and no join state
    accumulates; this is the right shape for dimension enrichment at any
    stream volume, vs. a stream-stream join whose state store must be
    watermark-bounded (see ``stream_audit_join``).

    ``left`` keeps records with no dimension row (nulls flag unknown keys
    for a downstream quarantine filter); ``inner`` drops them."""
    return records.join(F.broadcast(dim), on, how)


def stream_cohort_activity(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q51 retention-cohort rollup: accumulate the
    DISTINCT (user, active_week) pair set incrementally via ``foreachBatch``
    appends; ``cohort_rollup`` then derives firsts + retention from the
    accumulated pairs at read time.

    Why pairs, not cohort counts: count_distinct does not decompose across
    micro-batches, but the distinct PAIR SET is a trivially mergeable
    accumulator — per batch, append the batch's distinct pairs; duplicates
    across batches (or from a crash-replayed batch) are harmless because the
    rollup re-distincts. That makes the sink idempotent under foreachBatch's
    at-least-once contract with no rewrite, no read-modify-write, and no
    state store. At 100 TB the pair set is bounded by users x weeks — orders
    of magnitude smaller than the event stream it summarizes."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        week = F.date_trunc("week", F.to_date(ts_col)).cast("date")
        (
            batch_df.select(F.col(user_col).alias("user_id"), week.alias("active_week"))
            .distinct()
            .write.mode("append")
            .parquet(dest)
        )

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def stream_concurrency_points(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
    duration_s: int = 300,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q113 peak-concurrency sweep: accumulate the
    boundary-point set incrementally via ``foreachBatch`` appends;
    ``peak_concurrency_rollup`` then runs the shared partition-parallel
    sweep (operators/timeseries.sweep_daily_peaks) over the accumulated
    points at read time.

    Idempotence discipline (the q51 pair-set pattern): each point is keyed
    by its EVENT identity — (event_id, delta) uniquely names a point, since
    every activity window contributes exactly one +1 and one -1 — so a
    crash-replayed micro-batch appends duplicates that the rollup's
    distinct removes, satisfying foreachBatch's at-least-once contract
    with no state store and no read-modify-write. The accumulator is
    2x|events| narrow rows (id, t, delta) — the same point volume the
    batch sweep scans, written once, never rewritten."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        starts = batch_df.select(
            F.col(id_col).alias("event_id"),
            F.col(ts_col).alias("t"),
            F.lit(1).alias("delta"),
        )
        ends = batch_df.select(
            F.col(id_col).alias("event_id"),
            (F.col(ts_col) + F.expr(f"INTERVAL {int(duration_s)} SECOND")).alias("t"),
            F.lit(-1).alias("delta"),
        )
        starts.unionAll(ends).write.mode("append").parquet(dest)

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def peak_concurrency_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated boundary points — identical output
    contract to q113 (day, peak, first_peak_at). The distinct on
    (event_id, delta) is what makes replayed batches harmless; after it the
    event ids drop and the shared two-pass sweep runs exactly as in the
    batch plan."""
    from guardian_for_apache_kafka_spark.operators.timeseries import sweep_daily_peaks

    pts = (
        spark.read.parquet(points_dir)
        .select("event_id", "t", "delta")
        .distinct()
        .select("t", "delta")
    )
    return sweep_daily_peaks(pts)


def cohort_rollup(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Batch rollup over the accumulated (user, active_week) pair set —
    identical output contract to q51 (cohort_week, week_offset, n_active).
    The firsts frame is user-count-sized and broadcasts, exactly like the
    batch plan; the only shuffle on the pair set is its own distinct."""
    pairs = spark.read.parquet(pairs_dir).distinct()
    firsts = pairs.groupBy("user_id").agg(F.min("active_week").alias("cohort_week"))
    return (
        pairs.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("active_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def init_cdc_snapshot(base: DataFrame, snapshot_dir: str) -> None:
    """Seed a versioned CDC snapshot archive: the base table becomes
    version 0 (``<snapshot_dir>/v=0``). See ``stream_cdc_apply``."""
    base.write.mode("overwrite").parquet(os.path.join(snapshot_dir, "v=0"))


def read_cdc_snapshot(spark: SparkSession, snapshot_dir: str, below: int | None = None) -> DataFrame:
    """Read the current snapshot: the highest COMPLETE version directory
    (``_SUCCESS`` present — a crashed half-written version is skipped, the
    prior version stays current). ``below`` bounds the search (used by the
    apply loop to read batch N's input as the newest version < N+1, so a
    REPLAYED batch re-reads the same input it saw the first time)."""
    versions = []
    for name in os.listdir(snapshot_dir):
        if not name.startswith("v="):
            continue
        v = int(name[2:])
        if below is not None and v >= below:
            continue
        if os.path.isfile(os.path.join(snapshot_dir, name, "_SUCCESS")):
            versions.append(v)
    if not versions:
        raise ValueError(f"no complete snapshot version under {snapshot_dir}")
    return spark.read.parquet(os.path.join(snapshot_dir, f"v={max(versions)}"))


def stream_cdc_apply(
    updates: DataFrame,
    snapshot_dir: str,
    checkpoint: str,
    key: str,
    update_cols: list[str],
    delete_col: str = "deleted",
    order_cols: tuple[str, ...] = ("timestamp",),
    available_now: bool = True,
    allow_partial_inserts: bool = False,
) -> StreamingQuery:
    """Streaming twin of q52: apply a CDC update stream to a snapshot via
    ``foreachBatch`` + ``operators.merge.merge_into`` (the same Delta-style
    matched-update / unmatched-insert / flagged-delete semantics as batch).

    Restart discipline — versioned snapshots keyed on the BATCH ID: batch N
    reads the newest complete version < N+1 and overwrites ``v=<N+1>``.
    Because foreachBatch replays a failed batch with the SAME id and data,
    the replay reads the same input version and rewrites the same output
    version — deterministic, idempotent, no rename protocol needed (an
    incomplete ``v=`` dir lacks ``_SUCCESS`` and is never read). Within a
    batch, updates compact to latest-per-key on ``order_cols`` first
    (merge_into requires a key-unique source, like Delta).

    At 100 TB: each apply is one key-equi join (broadcast when the batch is
    small, bucket-colocated when snapshot and stream share the q46 layout);
    old versions double as time-travel points — prune with retention policy."""
    from pyspark.sql.window import Window

    from guardian_for_apache_kafka_spark.operators.merge import merge_into

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(key).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if latest.isEmpty():
            return
        base = read_cdc_snapshot(spark, snapshot_dir, below=batch_id + 1)
        # allow_partial_inserts passes through: a snapshot with base columns
        # the CDC stream never carries must opt in explicitly rather than
        # kill the stream inside foreachBatch (merge_into's validation)
        merged = merge_into(
            base, latest, key, update_cols, delete_col,
            allow_partial_inserts=allow_partial_inserts,
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v={batch_id + 1}")
        )

    return _start_foreach_batch(updates, apply_batch, checkpoint, available_now)


def stream_ivm_apply(
    updates: DataFrame,
    view_dir: str,
    checkpoint: str,
    group_col: str = "g",
    n_col: str = "n",
    sum_col: str = "s",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming twin of q55: maintain a (group, count, sum) aggregate VIEW
    under a CDC stream of Debezium-style before/after images — per batch,
    ``operators.ivm.cdc_agg_delta`` aggregates ONLY the batch and
    ``apply_agg_delta`` folds it into the current view. The snapshot the
    view summarizes is never stored, let alone rescanned: state = the
    group-count-sized view itself.

    Restart discipline is ``stream_cdc_apply``'s versioned directory keyed
    on the batch id (seed the view with ``init_cdc_snapshot(old_agg,
    view_dir)``; a replayed batch re-reads the same input version and
    rewrites the same output version — idempotent). Integer-valued sums
    keep every version bit-identical to a from-scratch recomputation."""
    from guardian_for_apache_kafka_spark.operators.ivm import (
        apply_agg_delta,
        cdc_agg_delta,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        delta = cdc_agg_delta(batch_df, group_col)
        old = read_cdc_snapshot(spark, view_dir, below=batch_id + 1)
        new = apply_agg_delta(old, delta, group_col, n_col, sum_col)
        new.write.mode("overwrite").parquet(
            os.path.join(view_dir, f"v={batch_id + 1}")
        )

    return _start_foreach_batch(updates, apply_batch, checkpoint, available_now)


def stream_audit_join(
    source: DataFrame,
    archived: DataFrame,
    lag_bound: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream archive-integrity join: match each live source record to
    its archived copy by identity (topic, partition, offset) within
    ``lag_bound`` of event time. ``inner`` emits confirmed-archived records;
    ``left_outer`` additionally emits (source, NULL) once the watermark
    passes a record with no archived twin — a continuous backup-loss
    detector (no reference twin: Guardian has no audit path at all).

    Both sides carry watermarks and the join condition bounds archived time
    to [source - lag_bound, source + lag_bound], so Spark's state store
    purges matched/expired rows instead of growing without bound — the
    requirement for a 100 TB-scale continuous join."""
    s = source.withWatermark("timestamp", lag_bound).alias("s")
    a = (
        archived.select(
            F.col("topic").alias("a_topic"),
            F.col("partition").alias("a_partition"),
            F.col("offset").alias("a_offset"),
            F.col("timestamp").alias("a_timestamp"),
        )
        .withWatermark("a_timestamp", lag_bound)
        .alias("a")
    )
    cond = (
        (F.col("s.topic") == F.col("a.a_topic"))
        & (F.col("s.partition") == F.col("a.a_partition"))
        & (F.col("s.offset") == F.col("a.a_offset"))
        & (F.col("a.a_timestamp") >= F.col("s.timestamp") - F.expr(f"INTERVAL {lag_bound}"))
        & (F.col("a.a_timestamp") <= F.col("s.timestamp") + F.expr(f"INTERVAL {lag_bound}"))
    )
    return s.join(a, cond, join_type).select(
        "s.topic",
        "s.partition",
        "s.offset",
        "s.timestamp",
        F.col("a.a_timestamp").alias("archived_at"),
    )


def stream_heavy_hitters(
    docs: DataFrame,
    dest: str,
    checkpoint: str,
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q56 heavy-hitters query: accumulate EXACT
    per-batch token counts via ``foreachBatch``; ``heavy_hitters_rollup``
    sums them and applies the frequency threshold at read time.

    Per-batch token counts are the decomposable exact accumulator — counts
    add across batches, and the global threshold (which does NOT decompose:
    a token can be under 0.2% of every batch yet over 0.2% of the union)
    is deferred to the rollup. Unlike the cohort pair set, counts are NOT
    idempotent under replay, so each batch writes to its own
    ``batch=<id>`` directory with overwrite — a crash-replayed batch
    rewrites the same directory instead of double-counting (the
    stream_cdc_apply versioning discipline). At 100 TB of stream history
    the accumulated state is batches x batch-vocabulary, and compacting it
    is one exact groupBy — the Misra-Gries candidate bound stays the
    BATCH-side optimization (q56) where the full corpus is rescannable."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.explode(F.split(F.col(text_col), " ")).alias("token")
            )
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
            .write.mode("overwrite")
            .parquet(os.path.join(dest, f"batch={batch_id}"))
        )

    return _start_foreach_batch(docs, write_batch, checkpoint, available_now)


def heavy_hitters_rollup(
    spark: SparkSession, counts_dir: str, threshold_frac: float = 0.002
) -> DataFrame:
    """Batch finishing pass over accumulated per-batch token counts —
    identical output contract to q56 (token, cnt). One token-keyed sum over
    vocabulary-sized inputs; the corpus total is a broadcast scalar
    subquery, not a driver collect."""
    per_batch = spark.read.parquet(counts_dir)
    totals = per_batch.groupBy("token").agg(F.sum("cnt").alias("cnt"))
    grand = totals.agg(F.sum("cnt").alias("__total"))
    return (
        totals.crossJoin(F.broadcast(grand))
        .where(F.col("cnt") >= F.col("__total") * threshold_frac)
        .select("token", "cnt")
        .orderBy(F.desc("cnt"), "token")
    )


def stream_contract_checks(events: DataFrame) -> DataFrame:
    """Streaming twin of q100 data-contract validation: the SAME check
    suite (functions.columns.contract_violation_aggs — one shared dict, so
    batch and stream can never drift check-by-check) as a continuously
    maintained global aggregate. Complete-mode output: one row per check
    with the violation count over everything seen so far — the
    data-quality monitor a 100 TB ingest runs beside the pipeline, where
    q100 is the audit it runs after.

    Scale: the aggregate state is ONE row of counters (five longs + a row
    count) regardless of stream volume; each micro-batch folds in
    map-side partial sums, so the exchange carries counters, not events.
    After a finite in-order replay drains, the table equals batch q100
    exactly (asserted in test_streaming)."""
    from guardian_for_apache_kafka_spark.functions.columns import (
        contract_violation_aggs,
    )

    viol = contract_violation_aggs()
    agg = events.agg(
        *[v.alias(k) for k, v in viol.items()], F.count("*").alias("n_rows")
    )
    stack = ", ".join(f"'{k}', {k}" for k in sorted(viol))
    return (
        agg.select(
            F.expr(f"stack({len(viol)}, {stack}) AS (check_name, n_violations)"),
            "n_rows",
        )
        .select(
            "check_name",
            "n_violations",
            "n_rows",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def star_dedup_batch(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Within-batch greedy near-dup dedup: drop every document that
    near-duplicates (exact n-gram Jaccard >= ``threshold``) a LOWER-id peer
    of the same batch — the star rule (first writer wins) shared by the
    batch fold and the streaming ingest so their results cannot drift."""
    from guardian_for_apache_kafka_spark.operators.dedup import ngram_jaccard_pairs

    doomed = (
        ngram_jaccard_pairs(
            docs, n=n, threshold=threshold, id_col=id_col,
            content_col=content_col, max_bucket=max_bucket,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return docs.join(doomed, id_col, "left_anti")


def stream_incremental_dedup(
    docs: DataFrame,
    keepers_dir: str,
    checkpoint: str,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous-ingest near-dup dedup: the streaming twin of d12's
    daily-ingest shape, run per micro-batch via ``foreachBatch``.

    Each batch is (a) star-deduped within itself (:func:`star_dedup_batch`),
    then (b) deduplicated against the ACCUMULATED keeper corpus with the
    SAME operator the batch query uses (``operators/dedup.incremental_dedup``
    — no new-new or ref-ref comparisons); survivors append to
    ``keepers_dir``. Idempotent under foreachBatch's at-least-once contract
    WITHOUT a state store: a replayed batch's documents near-duplicate their
    own earlier append at Jaccard 1.0 and are doomed by the cross-join, so a
    crash between append and checkpoint commit re-appends only the rows the
    crash lost.

    At scale the per-batch keeper re-read is IO-linear in keepers and the
    cross inverted index is rebuilt per batch — the shape a daily 100 TB
    ingest already has; a long-lived deployment would persist the keeper
    shingle index bucketed by shingle hash (operators/bucketing.py) instead
    of re-exploding it, which changes the constant, not the plan."""
    from guardian_for_apache_kafka_spark.operators.dedup import incremental_dedup

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        survivors = star_dedup_batch(
            batch_df, n=n, threshold=threshold, id_col=id_col,
            content_col=content_col, max_bucket=max_bucket,
        )
        try:
            ref = spark.read.parquet(keepers_dir)
            has_ref = len(ref.take(1)) > 0
        except Exception:
            has_ref = False
        if has_ref:
            survivors = incremental_dedup(
                survivors, ref, n=n, threshold=threshold, id_col=id_col,
                content_col=content_col, max_bucket=max_bucket,
            )
        survivors.write.mode("append").parquet(keepers_dir)

    return _start_foreach_batch(docs, write_batch, checkpoint, available_now)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the attribution shape
    (view -> click within ``max_delay``) that stream-static enrichment
    can't express because BOTH sides arrive continuously.

    Both inputs get event-time watermarks and the join carries the
    time-range condition ``left_ts <= right_ts <= left_ts + max_delay``;
    together those let Spark BOUND the join state (a left row is evictable
    once the right watermark passes ``left_ts + max_delay``, and vice
    versa) — without the range bound, stream-stream join state grows with
    all history, the 100 TB failure mode. Column names must be disjoint
    apart from ``key_col`` (rename upstream; the engine convention over
    positional access).

    Batch equivalence contract (the §2.3 streaming validation rule): on a
    finite replay where no row is later than ``watermark``, the inner join
    equals the identical batch range join — asserted in
    tests/test_streaming.py. Outer variants additionally emit NULL-padded
    rows only after watermark passage, so they are replay-sensitive at the
    stream tail; ``how='inner'`` is the equivalence-safe default.
    """
    l_ = left.withWatermark(left_ts, watermark).alias("l")
    r_ = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l_.join(r_, cond, how).drop(F.col(f"r.{key_col}"))


def stream_manifest(
    records: DataFrame,
    dest: str,
    checkpoint: str,
    config=None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of g10's fixity manifest: as records flow to the
    archive, accumulate per-slice (n_records, checksum) increments via
    ``foreachBatch`` appends; ``manifest_rollup`` sums them at read time
    into the same manifest ``operators.maintenance.archive_manifest``
    computes from the archive files — continuous fixity without re-reading
    the archive.

    Idempotency contract (same design as stream_cohort_activity): each
    batch appends one row per (batch_id, slice); a crash-replayed batch
    re-appends IDENTICAL rows (checkpoint replay re-reads the same input),
    and the rollup dedups on (batch_id, slice) before summing — so
    at-least-once delivery cannot double-count a slice. State is zero; the
    accumulator is slices x batches rows, metadata-sized."""
    from guardian_for_apache_kafka_spark.operators.maintenance import (
        record_checksum_col,
    )

    cfg = config or ChronoUnitSlice("HOURS")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__slice_start", slice_col(F.col("timestamp"), cfg))
            .withColumn("__ck", record_checksum_col())
            .groupBy(
                F.date_format("__slice_start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                    "slice"
                )
            )
            .agg(F.count("*").alias("n_records"), F.sum("__ck").alias("checksum"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(dest)
        )

    return _start_foreach_batch(records, write_batch, checkpoint, available_now)


def manifest_rollup(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Sum the accumulated per-batch manifest increments into the archive's
    fixity manifest (slice, n_records, checksum) — identical contract to
    ``archive_manifest`` up to slice-key canonicalization (always-seconds
    UTC here, Java ISO_OFFSET object keys there; ``verify_archive`` is the
    bridge). The distinct on (batch_id, slice) is what makes crash-replayed
    appends harmless."""
    inc = spark.read.parquet(manifest_dir).dropDuplicates(["batch_id", "slice"])
    return (
        inc.groupBy("slice")
        .agg(F.sum("n_records").alias("n_records"), F.sum("checksum").alias("checksum"))
        .orderBy("slice")
    )


def stream_ab_activity(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q107 A/B readout: accumulate per-batch
    (user_id, converted-in-batch) evidence via idempotent ``foreachBatch``
    appends; ``ab_rollup`` derives the chi-square readout from the
    accumulated evidence at read time.

    Same accumulator design as the cohort stream: conversion is
    max()-mergeable evidence (a user who ever purchased stays converted),
    so per batch we append the DISTINCT (user_id, conv) pairs the batch
    proves — duplicates from crash-replayed batches are harmless because
    the rollup re-maxes per user. Accumulator size is O(users), not
    O(events)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    F.when(
                        (F.col("event_type") == "purchase")
                        & (F.col("value") > 150),
                        1,
                    ).otherwise(0)
                ).alias("conv")
            )
            .write.mode("append")
            .parquet(dest)
        )

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def ab_rollup(spark: SparkSession, evidence_dir: str) -> DataFrame:
    """Chi-square readout over the accumulated A/B evidence — identical
    output contract to q107 (same shared formula,
    functions.columns.ab_chisquare_readout)."""
    from guardian_for_apache_kafka_spark.functions.columns import (
        ab_chisquare_readout,
    )

    u = (
        spark.read.parquet(evidence_dir)
        .groupBy("user_id")
        .agg(F.max("conv").alias("conv"))
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    return ab_chisquare_readout(u)


def psi_bin_col(value_col: str = "value", width: float = 100.0, n_bins: int = 10):
    """The q109 binning contract: fixed-width buckets capped at the last
    bin, shared by the batch report and the streaming monitor."""
    return (
        F.greatest(
            F.least(F.floor(F.col(value_col) / F.lit(width)), F.lit(n_bins - 1)),
            F.lit(0),
        )
        .cast("long")
        .alias("bin")
    )


def stream_psi_activity(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q109 PSI drift report: accumulate the CURRENT
    period's per-bin counts incrementally via idempotent ``foreachBatch``
    appends (one row per (batch_id, bin) — counts are sum-mergeable, and
    the rollup dedups on batch_id so crash-replayed batches cannot
    double-count, the stream_manifest design); ``psi_rollup`` joins the
    accumulated counts against a static baseline and emits the exact q109
    report via the shared formula. Accumulator size: bins x batches rows."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(psi_bin_col())
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(dest)
        )

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def psi_rollup(spark: SparkSession, counts_dir: str, baseline: DataFrame) -> DataFrame:
    """PSI report from the accumulated streaming counts vs a static
    baseline frame (same schema the batch query bins from). Identical
    output contract to q109 — shared formula,
    functions.columns.psi_report."""
    from guardian_for_apache_kafka_spark.functions.columns import psi_report

    cur = (
        spark.read.parquet(counts_dir)
        .dropDuplicates(["batch_id", "bin"])
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
        .withColumn("period", F.lit("current"))
    )
    base = (
        baseline.select(psi_bin_col())
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .withColumn("period", F.lit("base"))
    )
    return psi_report(base.unionByName(cur))


def checkpoint_inventory(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Observability for the resume machinery (the engine's T8/T9
    equivalent of the reference's commit log): parse a Structured Streaming
    checkpoint's ``offsets/`` and ``commits/`` logs into one row per batch
    — (batch_id, offset_logged, committed) — so an operator can see at a
    glance whether the last planned batch committed (a planned-but-
    uncommitted tail batch is exactly the one a restart will REPLAY; the
    engine's sinks are idempotent under that replay by design, and this is
    the report that shows it happening). Driver-side listing of two
    metadata directories — batch-count-sized, like every checkpoint
    operation Spark itself performs. Listing goes through the Hadoop FS
    API (operators/restore._list_names), so hdfs://, s3a://, or any
    session-supported scheme inventories the same as a local path (ADVICE
    r6: the os.listdir version silently reported every batch absent for
    URI checkpoints); a missing offsets/ or commits/ dir is an empty set,
    any other listing failure propagates (an unsupported scheme ERRORS, it
    does not read as "no batches"). Env scheme aliases
    (``SPARK_GRAFT_SCHEME_ALIASES``) are applied first — the same
    normalize_uri boundary the CLI applies for every other Hadoop-side
    consumer, so an aliased object-store checkpoint inventories the same
    as its target scheme."""
    from guardian_for_apache_kafka_spark.operators.backup import normalize_uri
    from guardian_for_apache_kafka_spark.operators.restore import _list_names

    checkpoint = normalize_uri(checkpoint)

    def batch_ids(sub: str) -> set[int]:
        d = checkpoint.rstrip("/") + "/" + sub
        try:
            names = _list_names(d, spark)
        except Exception as exc:
            # Hadoop raises FileNotFoundException (wrapped by py4j) for a
            # not-yet-created metadata dir — the legitimate "no batches yet"
            # state; anything else (permissions, bad scheme) must surface
            if "FileNotFoundException" in str(exc) or isinstance(exc, FileNotFoundError):
                return set()
            raise
        out = set()
        for name in names:
            base = name.split(".", 1)[0]
            if base.isdigit():
                out.add(int(base))
        return out

    offsets = batch_ids("offsets")
    commits = batch_ids("commits")
    rows = [
        (b, True, b in commits) for b in sorted(offsets | commits)
    ]
    return spark.createDataFrame(
        rows, "batch_id long, offset_logged boolean, committed boolean"
    )


def stream_daily_count_points(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    epoch_date: str = "2024-01-01",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q120 CUSUM changepoint detector — the
    stream_concurrency_points pattern applied to count points: each
    micro-batch appends one narrow row PER EVENT (event_id, event_type,
    day offset), keyed by event identity so crash-replayed batches append
    duplicates the rollup's distinct removes (foreachBatch's
    at-least-once contract, no state store). ``cusum_rollup`` then
    aggregates to the day table and runs the SAME
    operators/timeseries.cusum_changepoints core as the batch query —
    the stream==batch equivalence test rides on that shared code."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select(
            F.col(id_col).alias("event_id"),
            F.col(type_col).alias("event_type"),
            F.datediff(
                F.to_date(F.date_trunc("day", F.col(ts_col))),
                F.lit(epoch_date).cast("date"),
            ).alias("x"),
        )
        pts.write.mode("append").parquet(dest)

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def cusum_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated count points — identical output
    contract to q120 (event_type, change_day, cusum_stat,
    mean_shift_mass). The distinct on event identity makes replays
    harmless; the count aggregate rebuilds the day table and the shared
    CUSUM core does the rest."""
    from guardian_for_apache_kafka_spark.operators.timeseries import (
        cusum_changepoints,
    )

    pts = spark.read.parquet(points_dir).distinct()
    daily = pts.groupBy("event_type", "x").agg(F.count("*").alias("y"))
    return cusum_changepoints(daily)


def stream_score_points(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    id_col: str = "event_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q122 AUC monitor — the live model-quality
    gauge an ML-ops pipeline watches between retrains: each micro-batch
    appends one narrow row per event (event_id, user_id, engagement
    cents, big-purchase flag), keyed by event identity so crash-replayed
    batches append duplicates the rollup's distinct removes. ``auc_rollup``
    re-aggregates users and runs the SAME
    operators/evaluation.auc_mann_whitney core as the batch query."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select(
            F.col(id_col).alias("event_id"),
            F.col("user_id"),
            F.when(
                F.col("event_type") != "purchase",
                F.round(F.col("value") * 100).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("cents"),
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            )
            .otherwise(0)
            .alias("big"),
        )
        pts.write.mode("append").parquet(dest)

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def auc_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated score points — identical output
    contract to q122 (n_pos, n_neg, auc, gini). Event-identity distinct
    makes replays harmless; the user re-aggregate rebuilds (score, y) and
    the shared rank-sum core does the rest."""
    from guardian_for_apache_kafka_spark.operators.evaluation import (
        auc_mann_whitney,
    )

    pts = spark.read.parquet(points_dir).distinct()
    u = pts.groupBy("user_id").agg(
        F.sum("cents").alias("score"), F.max("big").alias("y")
    )
    return auc_mann_whitney(u.select("score", "y"))


def stream_topk_candidates(
    corpus: DataFrame,
    queries_df: DataFrame,
    dest: str,
    checkpoint: str,
    k: int = 5,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental top-k similarity maintenance (the EDBT'20 interactive-
    session pattern, PAPERS.md): as corpus vectors ARRIVE in micro-
    batches, each batch contributes only its own per-query local top-k to
    a candidate accumulator — sound because any global top-k member is by
    definition inside its own batch's top-k — and ``topk_rollup``
    re-ranks the accumulated candidate pool at read time. Per batch the
    work is |batch| x |queries| scored pairs and the accumulator grows by
    k rows per query per batch, NOT by the corpus: the index never
    rescans history to refresh the answer. Replays append duplicate
    candidates; the rollup's (query_id, vec_id) distinct removes them
    (the foreachBatch at-least-once discipline)."""
    from guardian_for_apache_kafka_spark.operators.similarity import cosine_topk

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        local = cosine_topk(batch_df, queries_df, k=k).select(
            "query_id", "vec_id", "cosine"
        )
        local.write.mode("append").parquet(dest)

    return _start_foreach_batch(corpus, write_batch, checkpoint, available_now)


def topk_rollup(spark: SparkSession, candidates_dir: str, k: int = 5) -> DataFrame:
    """Re-rank the accumulated candidate pool — identical output contract
    to the batch cosine_topk over the full corpus (query_id, vec_id,
    cosine, rnk). The pool holds k rows per query per micro-batch, so
    this rollup is batches x k x |queries| rows — interactive even after
    thousands of batches."""
    from pyspark.sql import Window

    pool = (
        spark.read.parquet(candidates_dir)
        .groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        pool.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def stream_length_points(
    docs: DataFrame,
    dest: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q123 KS drift matrix — the shape-sensitive
    sibling of ``stream_psi_activity``: each micro-batch appends one
    narrow row per document (doc_id, source, token length), keyed by doc
    identity so replays are distinct-removable, and ``ks_rollup`` rebuilds
    the per-source length samples and runs the SAME
    operators/evaluation.ks_statistic_pairs core as the batch query."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        )
        pts.write.mode("append").parquet(dest)

    return _start_foreach_batch(docs, write_batch, checkpoint, available_now)


def ks_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated (doc, source, length) points —
    identical output contract to q123 (group_a, group_b, n_a, n_b, ks_at,
    ks). Doc-identity distinct makes replays harmless."""
    from guardian_for_apache_kafka_spark.operators.evaluation import (
        ks_statistic_pairs,
    )

    pts = spark.read.parquet(points_dir).distinct()
    return ks_statistic_pairs(pts.select("source", "n_tok"), "source", "n_tok")


def stream_price_points(
    lineitem: DataFrame,
    dest: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q125 weighted-median monitor: each
    micro-batch appends one narrow row per line item (orderkey/linenumber
    identity, flag, integer price cents, integer quantity weight);
    ``weighted_median_rollup`` rebuilds the (flag, price) weight domain
    and runs the identical domain walk as the batch query. Replays append
    duplicates the rollup's identity distinct removes."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
            F.round(F.col("l_quantity")).cast("long").alias("w"),
        )
        pts.write.mode("append").parquet(dest)

    return _start_foreach_batch(lineitem, write_batch, checkpoint, available_now)


def weighted_median_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over accumulated price points — identical output
    contract to q125 (flag, total_weight, weighted_median_price); the
    domain walk IS q125's, via the shared
    operators/evaluation.weighted_median_walk (ADVICE r7: the inline copy
    could drift from the batch query)."""
    from guardian_for_apache_kafka_spark.operators.evaluation import (
        weighted_median_walk,
    )

    pts = spark.read.parquet(points_dir).distinct()
    return weighted_median_walk(pts, key_col="flag")


def stream_shingle_points(
    docs: DataFrame,
    dest: str,
    checkpoint: str,
    n: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the t35 n-gram novelty profile — continuous-ingest
    first-contribution tracking: each micro-batch appends one narrow
    (doc_id, shingle_hash) row per distinct pair (the identity key, so
    crash-replayed batches append duplicates the rollup's distinct
    removes — the stream_concurrency_points at-least-once discipline, no
    state store). Document text never reaches the sink: rows are two
    int64s. ``novelty_rollup`` then runs the SAME
    operators/text.novelty_from_pairs core as the batch query, so min-doc
    first-occurrence attribution is computed over everything ingested so
    far — by construction insensitive to arrival order."""
    from guardian_for_apache_kafka_spark.functions.columns import (
        ngram_shingles,
        tokens_col,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sh = batch_df.select(
            F.col("doc_id").alias("__id"), ngram_shingles(tokens_col("text"), n).alias("__sh")
        ).where(F.size("__sh") > 0)
        pts = sh.select(
            "__id",
            F.explode(F.transform("__sh", lambda c: F.xxhash64(c))).alias("__s"),
        )
        pts.write.mode("append").parquet(dest)

    return _start_foreach_batch(docs, write_batch, checkpoint, available_now)


def novelty_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated shingle points — identical output
    contract to t35 (doc_id, n_shingles, n_novel, novelty_ratio); the
    attribution IS the batch core (operators/text.novelty_from_pairs)."""
    from guardian_for_apache_kafka_spark.operators.text import novelty_from_pairs

    pts = spark.read.parquet(points_dir).distinct()
    return novelty_from_pairs(pts, id_col="doc_id")


def turning_points_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated daily count points (the q120
    stream's sink, shared) — identical output contract to q132; the
    screen IS the batch core (operators/timeseries.turning_point_stats)."""
    from guardian_for_apache_kafka_spark.operators.timeseries import (
        turning_point_stats,
    )

    pts = spark.read.parquet(points_dir).distinct()
    daily = pts.groupBy("event_type", "x").agg(F.count("*").alias("y"))
    return turning_point_stats(daily)


def runs_test_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated daily count points — identical
    output contract to q133 (operators/timeseries.runs_test_stats)."""
    from guardian_for_apache_kafka_spark.operators.timeseries import runs_test_stats

    pts = spark.read.parquet(points_dir).distinct()
    daily = pts.groupBy("event_type", "x").agg(F.count("*").alias("y"))
    return runs_test_stats(daily)


def stream_week_type_points(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q141 JSD drift monitor — the live
    distribution-shift gauge over the event-type mix: each micro-batch
    appends one narrow row per event (event identity, ISO week start,
    event type); ``jsd_rollup`` re-aggregates the week x type counts and
    runs the SAME operators/evaluation.jsd_weekly_drift core as the
    batch query. Crash-replayed batches append duplicates the rollup's
    identity distinct removes (foreachBatch at-least-once, no state
    store); counts are additive, so arrival order is irrelevant."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select(
            F.col(id_col).alias("event_id"),
            F.to_date(F.date_trunc("week", F.col(ts_col))).alias("wk"),
            F.col(type_col).alias("et"),
        )
        pts.write.mode("append").parquet(dest)

    return _start_foreach_batch(events, write_batch, checkpoint, available_now)


def jsd_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated week/type points — identical
    output contract to q141 (week, n_curr, n_prev, jsd). The distinct on
    event identity makes replays harmless; the count aggregate rebuilds
    the week x type table and the shared JSD core does the rest."""
    from guardian_for_apache_kafka_spark.operators.evaluation import jsd_weekly_drift

    pts = spark.read.parquet(points_dir).distinct()
    counts = pts.groupBy("wk", "et").agg(F.count("*").alias("c"))
    return jsd_weekly_drift(counts)


def stream_transition_points(
    events: DataFrame,
    dest: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming half of the q142 conditional-entropy monitor: the
    stateful Markov transition extractor (streaming/stateful.
    stream_markov_transitions) run with an UNBOUNDED session gap — every
    consecutive per-user pair is a transition, exactly q142's plain
    lead() formulation — with each emitted transition appended as a
    narrow identity-keyed point row. State is O(users) (last event per
    user); crash-replayed emissions are removed by the rollup's identity
    distinct. ``conditional_entropy_rollup`` then counts transitions and
    runs the SAME operators/evaluation core as the batch query."""
    from guardian_for_apache_kafka_spark.streaming.stateful import (
        stream_markov_transitions,
    )

    tr = stream_markov_transitions(events, gap_seconds=2_000_000_000)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("user_id", "event_id", "from_type", "to_type").write.mode(
            "append"
        ).parquet(dest)

    return _start_foreach_batch(tr, write_batch, checkpoint, available_now)


def conditional_entropy_rollup(spark: SparkSession, points_dir: str) -> DataFrame:
    """Batch rollup over the accumulated transition points — identical
    output contract to q142 (from_type, n_transitions, cond_entropy,
    perplexity). Identity distinct absorbs replays; the shared
    evaluation core does the rest."""
    from guardian_for_apache_kafka_spark.operators.evaluation import (
        conditional_entropy_from_transitions,
    )

    pts = spark.read.parquet(points_dir).distinct()
    return conditional_entropy_from_transitions(
        pts.select(F.col("from_type").alias("cur"), F.col("to_type").alias("nxt"))
    )
