"""Streaming validation: batch/stream equivalence on replayed finite input
(SURVEY.md §2.3 streaming surface), checkpoint restart without loss or
duplication, watermarked window closure, replay dedup."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from guardian_for_apache_kafka_spark.core import normalize_events_to_records
from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice, PeriodFromFirst
from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl
from guardian_for_apache_kafka_spark.sources.tables import load_table
from guardian_for_apache_kafka_spark.streaming.pipeline import (
    records_file_stream,
    stream_backup,
    stream_backup_foreach_batch,
    stream_dedup_replays,
    stream_slice_counts,
)


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 400)
    return normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )


def rec_set(df):
    return {
        (r.topic, r.partition, r.offset, bytes(r.value), r.timestamp) for r in df.collect()
    }


def _stage_input(records, path, n_files=4):
    records.repartition(n_files).write.mode("overwrite").parquet(path)


def test_stream_backup_equals_batch(spark, records, tmp_path):
    src = str(tmp_path / "in")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_input(records, src)
    q = stream_backup(
        records_file_stream(spark, src, max_files_per_trigger=1), dest, ckpt
    )
    q.awaitTermination(120)
    restored = read_backup_jsonl(spark, dest).drop("slice")
    assert rec_set(restored) == rec_set(records)
    # multiple micro-batches actually happened (maxFilesPerTrigger=1)
    assert q.lastProgress is not None


def test_stream_restart_from_checkpoint_no_dup_no_loss(spark, records, tmp_path):
    src = str(tmp_path / "in")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = records.where(F.col("offset") < 200)
    second = records.where(F.col("offset") >= 200)
    first.write.mode("overwrite").parquet(src)
    q1 = stream_backup(records_file_stream(spark, src), dest, ckpt)
    q1.awaitTermination(120)
    # "suspend/resume": new files arrive, a NEW query restarts on the SAME checkpoint
    second.write.mode("append").parquet(src)
    q2 = stream_backup(records_file_stream(spark, src), dest, ckpt)
    q2.awaitTermination(120)
    restored = read_backup_jsonl(spark, dest).drop("slice")
    assert rec_set(restored) == rec_set(records)  # nothing lost, nothing doubled


def test_period_from_first_anchor_survives_restart(spark, records, tmp_path):
    src = str(tmp_path / "in")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = PeriodFromFirst(dt.timedelta(hours=6))
    first = records.where(F.col("offset") < 200)
    second = records.where(F.col("offset") >= 200)
    first.write.mode("overwrite").parquet(src)
    q1 = stream_backup_foreach_batch(records_file_stream(spark, src), dest, ckpt, cfg)
    q1.awaitTermination(120)
    anchor_file = os.path.join(ckpt, "_guardian_anchor.json")
    assert os.path.exists(anchor_file)
    second.write.mode("append").parquet(src)
    q2 = stream_backup_foreach_batch(records_file_stream(spark, src), dest, ckpt, cfg)
    q2.awaitTermination(120)
    restored = read_backup_jsonl(spark, dest).drop("slice")
    assert rec_set(restored) == rec_set(records)
    # slices align with the ORIGINAL anchor: every slice dir's offset from the
    # global min timestamp is a multiple of 6h
    anchor_ts = records.agg(F.min("timestamp")).collect()[0][0]
    slices = {
        r.slice
        for r in read_backup_jsonl(spark, dest).select("slice").distinct().collect()
    }
    for s in slices:
        delta_s = (s - anchor_ts).total_seconds()
        assert delta_s % (6 * 3600) == 0


def test_period_from_first_anchor_lands_in_file_uri_checkpoint(
    spark, records, tmp_path, monkeypatch
):
    """A ``file://`` checkpoint holds the PeriodFromFirst anchor itself: the
    anchor is read and written through the sessionless filesystem seam, so
    nothing appears under the driver's cwd (an os-based anchor made a
    relative ``file:`` directory there, and a restart from another cwd
    re-anchored)."""
    import json as _json

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    src, dest, ckpt = (str(tmp_path / p) for p in ("in", "out", "ckpt"))
    records.write.parquet(src)
    q = stream_backup_foreach_batch(
        records_file_stream(spark, src), dest, f"file://{ckpt}",
        PeriodFromFirst(dt.timedelta(hours=6)),
    )
    q.awaitTermination(120)
    assert os.listdir(cwd) == []
    with open(os.path.join(ckpt, "_guardian_anchor.json")) as fh:
        anchor_us = _json.load(fh)["anchor_us"]
    first = records.agg(F.min(F.unix_micros("timestamp"))).collect()[0][0]
    assert anchor_us == first
    assert rec_set(read_backup_jsonl(spark, dest).drop("slice")) == rec_set(records)


def test_stream_slice_counts_equal_batch_g2(spark, records, tmp_path):
    import time

    src = str(tmp_path / "in")
    # stage time-ordered chunks with distinct mtimes: the file source orders
    # batches by modification time, and watermark progress needs event-time
    # order across micro-batches
    with_us = records.withColumn("__us", F.unix_micros("timestamp"))
    qs = with_us.approxQuantile("__us", [0.25, 0.5, 0.75], 0)
    bounds = [None, *qs, None]
    for i in range(4):
        chunk = with_us
        if bounds[i] is not None:
            chunk = chunk.where(F.col("__us") > F.lit(int(bounds[i])))
        if bounds[i + 1] is not None:
            chunk = chunk.where(F.col("__us") <= F.lit(int(bounds[i + 1])))
        chunk.drop("__us").coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    batch = {
        (r.slice, r.topic): r.cnt
        for r in records.groupBy(F.date_trunc("hour", "timestamp").alias("slice"), "topic")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }

    # complete mode (no watermark): full batch/stream equivalence
    qc = (
        stream_slice_counts(records_file_stream(spark, src), watermark=None)
        .writeStream.format("memory")
        .queryName("slice_counts_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    qc.awaitTermination(120)
    got_c = {
        (r.slice, r.topic): r.record_cnt
        for r in spark.sql("select * from slice_counts_complete").collect()
    }
    assert got_c == batch

    # append mode: watermark-closed windows only — every emitted row matches
    # batch, and windows close as event time progresses across micro-batches
    qa = (
        stream_slice_counts(records_file_stream(spark, src, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("slice_counts_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qa.awaitTermination(120)
    got_a = {
        (r.slice, r.topic): r.record_cnt
        for r in spark.sql("select * from slice_counts_append").collect()
    }
    assert got_a, "no window closed despite multi-batch event-time progress"
    for k, v in got_a.items():
        assert batch[k] == v


def test_stream_dedup_replays(spark, records, tmp_path):
    src = str(tmp_path / "in")
    doubled = records.unionByName(records)  # exact replay of every record
    _stage_input(doubled, src)
    q = (
        stream_dedup_replays(records_file_stream(spark, src))
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) c from deduped").collect()[0].c
    assert n == records.count()


def test_stream_sliding_counts_equal_batch(spark, records, tmp_path):
    """Sliding windows on a replayed finite stream == batch window() agg."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import stream_sliding_counts

    src = str(tmp_path / "in")
    _stage_input(records, src)
    q = (
        stream_sliding_counts(records_file_stream(spark, src), watermark=None)
        .writeStream.format("memory")
        .queryName("sliding_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.win_start, r.topic): r.record_cnt
        for r in spark.sql("select * from sliding_complete").collect()
    }
    batch = {
        (r.win_start, r.topic): r.record_cnt
        for r in records.groupBy(
            F.window("timestamp", "1 hour", "15 minutes").alias("win"), "topic"
        )
        .agg(F.count("*").alias("record_cnt"))
        .select(F.col("win.start").alias("win_start"), "topic", "record_cnt")
        .collect()
    }
    assert got == batch
    # every record lands in window/slide = 4 overlapping windows
    assert sum(got.values()) == records.count() * 4


def test_stream_session_stats_equal_batch(spark, records, tmp_path):
    """Session windows on a replayed finite stream == batch session_window()."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import stream_session_stats

    src = str(tmp_path / "in")
    _stage_input(records, src)
    q = (
        stream_session_stats(records_file_stream(spark, src), gap="30 minutes", watermark=None)
        .writeStream.format("memory")
        .queryName("sessions_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.sess_start, r.sess_end, r.topic): (r.record_cnt, r.min_offset, r.max_offset)
        for r in spark.sql("select * from sessions_complete").collect()
    }
    batch = {
        (r.sess_start, r.sess_end, r.topic): (r.record_cnt, r.min_offset, r.max_offset)
        for r in records.groupBy(F.session_window("timestamp", "30 minutes").alias("s"), "topic")
        .agg(
            F.count("*").alias("record_cnt"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        )
        .select(
            F.col("s.start").alias("sess_start"),
            F.col("s.end").alias("sess_end"),
            "topic",
            "record_cnt",
            "min_offset",
            "max_offset",
        )
        .collect()
    }
    assert got == batch
    # sessions partition the records: counts add up, sessions don't overlap per topic
    assert sum(v[0] for v in got.values()) == records.count()


def test_stream_restore_equals_batch_restore(spark, records, tmp_path):
    """Streaming restore over a JSON-lines archive == batch restore_batch
    (records + fromWhen filter), with multi-batch rate limiting."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.streaming.pipeline import stream_restore

    archive = str(tmp_path / "archive")
    backup_batch(records, archive, ChronoUnitSlice("HOURS"), fmt="json")
    from_when = dt.datetime(2024, 1, 1, 6, 0, 0)

    q = (
        stream_restore(spark, archive, from_when=from_when, max_files_per_trigger=2)
        .writeStream.format("memory")
        .queryName("srestore")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = rec_set(spark.sql("select * from srestore"))
    expected = rec_set(restore_batch(spark, archive, from_when=from_when, fmt="json"))
    assert got == expected and len(got) > 0


def test_progress_listener_and_restart_wrapper(spark, records, tmp_path):
    from guardian_for_apache_kafka_spark.streaming.listener import (
        ProgressListener,
        run_with_restarts,
    )
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        records_file_stream,
        stream_backup,
    )

    src = str(tmp_path / "in")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_input(records, src)

    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        q = run_with_restarts(
            lambda: stream_backup(
                records_file_stream(spark, src, max_files_per_trigger=2), dest, ckpt
            ),
            max_restarts=1,
        )
        assert not q.isActive  # availableNow ran to completion
        # listener saw the start and at least one progress batch with rows
        import time

        n = records.count()
        for _ in range(40):  # listener delivery is async; wait for all batches
            if sum(p["numInputRows"] for p in listener.progress) >= n:
                break
            time.sleep(0.5)
        assert listener.started
        assert sum(p["numInputRows"] for p in listener.progress) >= n
    finally:
        spark.streams.removeListener(listener)


def test_concurrent_backup_instances_share_archive(spark, records, tmp_path):
    """Two concurrently-running backup queries over disjoint topic subsets
    writing the same archive root (the reference's concurrent-instances e2e,
    RealS3BackupClientTest 'concurrent backup instances'): no interference,
    union of outputs == full record set.

    Deployment rule (stream_backup docstring): one sink root per instance —
    Spark's native file sink owns its _spark_metadata, and concurrent batch
    appends to one directory race in _temporary staging. instance_id is the
    formal API for that layout: both writers share the archive and checkpoint
    roots, each owning <root>/<instance_id>; restore unions the roots."""
    import pytest

    topics = [r.topic for r in records.select("topic").distinct().collect()]
    half = len(topics) // 2
    g1, g2 = set(topics[:half]), set(topics[half:])
    src1, src2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    archive, ckpt = str(tmp_path / "archive"), str(tmp_path / "ckpt")
    records.where(F.col("topic").isin(g1)).write.parquet(src1)
    records.where(F.col("topic").isin(g2)).write.parquet(src2)

    q1 = stream_backup(records_file_stream(spark, src1), archive, ckpt, instance_id="instance1")
    q2 = stream_backup(records_file_stream(spark, src2), archive, ckpt, instance_id="instance2")
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    restored = read_backup_jsonl(spark, archive, instances=True)
    assert rec_set(restored.drop("slice")) == rec_set(records)
    # and per-instance reads see exactly their own subset
    only1 = read_backup_jsonl(spark, archive + "/instance1").select("topic").distinct()
    assert {r.topic for r in only1.collect()} == g1

    # ids that would collide with slice dirs or the union listing are rejected
    for bad in ("", "a/b", "_tmp", ".hidden", "slice=x"):
        with pytest.raises(ValueError):
            stream_backup(records_file_stream(spark, src1), archive, ckpt, instance_id=bad)


def test_stream_backup_gzip_roundtrip(spark, records, tmp_path):
    """Streaming archival with gzip (the reference's RealS3GzipCompression
    spec shape): .gz part files, transparent codec on read, record-set
    equality."""
    import glob

    src = str(tmp_path / "in")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_input(records, src)
    q = stream_backup(records_file_stream(spark, src), dest, ckpt, compression="gzip")
    q.awaitTermination(120)
    parts = glob.glob(f"{dest}/slice=*/*.txt.gz") + glob.glob(f"{dest}/slice=*/*.gz")
    assert parts, "expected gzip part files"
    restored = read_backup_jsonl(spark, dest).drop("slice")
    assert rec_set(restored) == rec_set(records)


def test_stream_audit_join_matches_batch(spark, records, tmp_path):
    """Stream-stream integrity join: live source records inner-join their
    archived twins on identity within the lag bound; records missing from
    the archive never emit. Stream result == the batch equi-join."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import stream_audit_join

    src = str(tmp_path / "src")
    arc = str(tmp_path / "arc")
    _stage_input(records, src)
    # archive "lost" every record with offset % 50 == 0
    archived = records.where(F.col("offset") % 50 != 0)
    _stage_input(archived, arc)

    q = (
        stream_audit_join(
            records_file_stream(spark, src),
            records_file_stream(spark, arc),
            lag_bound="1 hour",
        )
        .writeStream.format("memory")
        .queryName("audit_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.topic, r.partition, r.offset)
        for r in spark.sql("select * from audit_join").collect()
    }
    expected = {
        (r.topic, r.partition, r.offset) for r in archived.collect()
    }
    assert got == expected
    lost = {(r.topic, r.partition, r.offset) for r in records.collect()} - expected
    assert lost and not (lost & got)
    # archived_at equals the source event time for every confirmed record
    mism = spark.sql(
        "select count(*) c from audit_join where archived_at != timestamp"
    ).collect()[0].c
    assert mism == 0


def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """The per-document quality/repetition operators are stateless column
    expressions, so they apply unchanged to a streaming source: a file-stream
    pass over the documents table must produce the identical keep/drop
    decisions as the batch pass (continuous ingest filtering — score documents
    as they arrive, no reprocessing)."""
    from guardian_for_apache_kafka_spark.operators.text import quality_filter
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)

    batch = {
        (r.doc_id, r.kept) for r in quality_filter(docs).select("doc_id", "kept").collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        quality_filter(stream)
        .select("doc_id", "kept")
        .writeStream.format("memory")
        .queryName("qf_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.kept) for r in spark.sql("SELECT * FROM qf_stream").collect()}
    assert got == batch and len(got) > 0


def test_multi_instance_restore_from_when_prunes_and_filters(spark, records, tmp_path):
    """from_when over a shared multi-writer archive: per-root straddle bounds
    prune slices while the record filter stays exact — the result equals the
    plain timestamp filter over the full union."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.operators.restore import restore_batch

    archive, ckpt = str(tmp_path / "arch"), str(tmp_path / "ck")
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    records.where(F.col("offset") % 2 == 0).write.parquet(src1)
    records.where(F.col("offset") % 2 == 1).write.parquet(src2)
    q1 = stream_backup(records_file_stream(spark, src1), archive, ckpt, instance_id="a")
    q2 = stream_backup(records_file_stream(spark, src2), archive, ckpt, instance_id="b")
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    mid = records.selectExpr("percentile(cast(timestamp as double), 0.5) p").first().p
    cutoff = dt.datetime.utcfromtimestamp(mid)
    got = restore_batch(spark, archive, fmt="json", instances=True, from_when=cutoff)
    expected = records.where(F.col("timestamp") >= F.lit(cutoff))
    assert got.count() == expected.count()
    assert rec_set(got) == rec_set(expected)
    # a cutoff after all data leaves only straddler slices to scan, zero rows
    future = dt.datetime(2100, 1, 1)
    assert restore_batch(spark, archive, fmt="json", instances=True, from_when=future).count() == 0


def test_stream_dedup_content_within_watermark(spark, records, tmp_path):
    """Content dedup drops same-VALUE records regardless of offset identity:
    replaying every record under fresh offsets leaves one survivor per
    distinct value, and the surviving value set equals the batch distinct
    set. dropDuplicatesWithinWatermark keys state on the digest and evicts
    on watermark passage (bounded state), unlike stream_dedup_replays which
    keys on (topic, partition, offset) identity."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import stream_dedup_content

    src = str(tmp_path / "in")
    replay = records.withColumn("offset", F.col("offset") + 10_000_000)
    _stage_input(records.unionByName(replay), src)
    q = (
        stream_dedup_content(records_file_stream(spark, src))
        .writeStream.format("memory")
        .queryName("content_deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select value from content_deduped").collect()
    batch_vals = {bytes(r.value) for r in records.select("value").distinct().collect()}
    assert {bytes(r.value) for r in got} == batch_vals
    assert len(got) == len(batch_vals)  # exactly one survivor per value


def test_stream_zscore_equals_batch(spark, tmp_path):
    """Streaming rolling z-score on an in-order finite replay == the batch
    operator (same flagged ids, bit-identical z), including state carry
    ACROSS micro-batches (input staged as multiple ordered files)."""
    from guardian_for_apache_kafka_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )
    from guardian_for_apache_kafka_spark.streaming.stateful import (
        stream_zscore_anomalies,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "in")
    # two ordered files -> two or more micro-batches in arrival order
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    first.coalesce(1).write.parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stream_zscore_anomalies(stream)
        .writeStream.format("memory")
        .queryName("zstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id: r.z for r in spark.sql("select * from zstream").collect()}
    want = {r.event_id: r.z for r in rolling_zscore_anomalies(ev).collect()}
    assert set(got) == set(want)
    for k, z in want.items():
        assert got[k] == z  # bit-identical arithmetic


def test_stream_cohorts_equal_batch_q51(spark, tmp_path):
    """Streaming cohort accumulation (foreachBatch distinct-pair appends)
    rolled up == the q51 batch rollup, across multiple micro-batches — and a
    simulated replayed batch (duplicate pair appends) changes nothing,
    which is the idempotency claim the sink's design rests on."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        cohort_rollup,
        stream_cohort_activity,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    first.coalesce(1).write.parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    dest, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ck")
    q = stream_cohort_activity(stream, dest, ckpt)
    q.awaitTermination(120)

    want = [tuple(r) for r in all_queries()["q51_retention_cohorts"](spark, sf).collect()]
    got = [tuple(r) for r in cohort_rollup(spark, dest).collect()]
    assert got == want
    # replayed-batch simulation: append a duplicate slice of the pair set
    spark.read.parquet(dest).limit(20).write.mode("append").parquet(dest)
    assert [tuple(r) for r in cohort_rollup(spark, dest).collect()] == want


def test_stream_concurrency_equal_batch_q113_and_resumes(spark, tmp_path):
    """Streaming boundary-point accumulation rolled up == the q113 batch
    sweep, across micro-batches; a simulated replayed batch (duplicate
    point appends) changes nothing (event-identity distinct); and a RESTART
    from the same checkpoint ingests only the new file."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        peak_concurrency_rollup,
        stream_concurrency_points,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    mid = ordered.subtract(first).orderBy("ts", "event_id").limit(n // 4)
    rest = ordered.subtract(first).subtract(mid)
    first.coalesce(1).write.parquet(src)
    mid.coalesce(1).write.mode("append").parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_concurrency_points(stream, dest, ckpt)
        q.awaitTermination(120)

    run()
    # restart: the remaining events arrive; the resumed query (same
    # checkpoint) appends only their points
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q113_peak_concurrency"](spark, sf).collect()]
    got = [tuple(r) for r in peak_concurrency_rollup(spark, dest).collect()]
    assert got == want
    # replayed-batch simulation: duplicate point appends are idempotent
    spark.read.parquet(dest).limit(30).write.mode("append").parquet(dest)
    assert [tuple(r) for r in peak_concurrency_rollup(spark, dest).collect()] == want


def test_stream_cdc_apply_equals_sequential_merge_and_resumes(spark, tmp_path):
    """Streaming CDC apply == batch merge_into applied batch-by-batch:
    within-batch latest-per-key compaction, delete flags, inserts; then a
    RESTART from the same checkpoint applies only the new batch on top of
    the current snapshot version (versioned-snapshot idempotency)."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        init_cdc_snapshot,
        read_cdc_snapshot,
        stream_cdc_apply,
    )

    base = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")],
        "k long, v double, tag string",
    )
    snap = str(tmp_path / "snap")
    init_cdc_snapshot(base, snap)

    schema = "k long, v double, tag string, deleted boolean, ts timestamp"
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    b1 = [
        (2, 99.0, "y2", False, t(0)),
        (4, 40.0, "w", False, t(1)),
        (2, 98.0, "y3", False, t(2)),  # later per-key event wins in-batch
        (1, 0.0, None, True, t(3)),    # matched delete
    ]
    b2 = [(3, 33.0, "z2", False, t(4)), (5, 50.0, "u", False, t(5))]
    src = str(tmp_path / "upd")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_cdc_apply(
            stream, snap, str(tmp_path / "ck"), "k", ["v", "tag"], "deleted", ("ts",)
        )
        q.awaitTermination(120)

    run()
    rows = {r.k: (r.v, r.tag) for r in read_cdc_snapshot(spark, snap).collect()}
    assert rows == {2: (98.0, "y3"), 3: (33.0, "z2"), 4: (40.0, "w"), 5: (50.0, "u")}

    # restart: a third CDC file arrives; the resumed query (same checkpoint)
    # processes ONLY it, on top of the latest snapshot version
    b3 = [(4, 0.0, None, True, t(6))]
    spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(src)
    run()
    rows = {r.k: (r.v, r.tag) for r in read_cdc_snapshot(spark, snap).collect()}
    assert rows == {2: (98.0, "y3"), 3: (33.0, "z2"), 5: (50.0, "u")}
    # versions: v=0 seed + one per applied batch (2 first run + 1 resumed)
    versions = sorted(
        int(d[2:]) for d in os.listdir(snap) if d.startswith("v=")
    )
    assert versions == [0, 1, 2, 3]


def test_stream_cdc_apply_into_file_uri_snapshot_equals_bare_path(spark, tmp_path):
    """A ``file://`` snapshot dir (which init_cdc_snapshot and Spark write
    fine) applies and reads back exactly like the bare path: the version
    listing goes through the Hadoop FS API, not ``os.listdir``."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        init_cdc_snapshot,
        read_cdc_snapshot,
        stream_cdc_apply,
    )

    base = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")],
        "k long, v double, tag string",
    )
    schema = "k long, v double, tag string, deleted boolean, ts timestamp"
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    src = str(tmp_path / "upd")
    spark.createDataFrame(
        [(2, 99.0, "y2", False, t(0)), (4, 40.0, "w", False, t(1)), (1, 0.0, None, True, t(2))],
        schema,
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame([(3, 33.0, "z2", False, t(3))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def apply(snap: str, ck: str) -> dict:
        init_cdc_snapshot(base, snap)
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        q = stream_cdc_apply(stream, snap, ck, "k", ["v", "tag"], "deleted", ("ts",))
        q.awaitTermination(120)
        return {r.k: (r.v, r.tag) for r in read_cdc_snapshot(spark, snap).collect()}

    bare = apply(str(tmp_path / "snap"), str(tmp_path / "ck"))
    uri = apply(f"file://{tmp_path}/snap_uri", str(tmp_path / "ck_uri"))
    assert bare == {2: (99.0, "y2"), 3: (33.0, "z2"), 4: (40.0, "w")}
    assert uri == bare
    assert sorted(os.listdir(tmp_path / "snap_uri")) == sorted(os.listdir(tmp_path / "snap"))


def test_stream_enrich_equals_batch_join(spark, records, tmp_path):
    """Stream-static enrichment on a replayed finite stream == the batch
    broadcast join, including left-null rows for unknown dimension keys."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import stream_enrich

    src = str(tmp_path / "in")
    _stage_input(records, src)
    dim = spark.createDataFrame(
        [("click", "interactive"), ("purchase", "transactional")],
        "topic string, category string",
    )
    q = (
        stream_enrich(records_file_stream(spark, src), dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select topic, category, count(*) c from enriched group by 1, 2")
    batch = records.join(F.broadcast(dim), "topic", "left").groupBy(
        "topic", "category"
    ).count()
    g = {(r.topic, r.category): r.c for r in got.collect()}
    b = {(r.topic, r.category): r["count"] for r in batch.collect()}
    assert g == b and any(k[1] is None for k in g)


def test_stream_ivm_equals_recompute_and_resumes(spark, tmp_path):
    """Streaming incremental view maintenance: after each CDC batch the
    maintained (group, n, sum) view equals a from-scratch aggregation of
    the evolved snapshot — across micro-batches and across a restart that
    appends a third batch (group-moves, deletes, inserts included)."""
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        init_cdc_snapshot,
        read_cdc_snapshot,
        stream_ivm_apply,
    )

    base = {1: ("a", 10), 2: ("a", 20), 3: ("b", 5)}
    base_df = spark.createDataFrame(
        [(k, g, v) for k, (g, v) in base.items()], "k long, g string, v long"
    )
    view = str(tmp_path / "view")
    init_cdc_snapshot(
        base_df.groupBy("g").agg(
            F.count("*").cast("long").alias("n"), F.sum("v").alias("s")
        ),
        view,
    )

    schema = "before_g string, before_v long, after_g string, after_v long"
    b1 = [("a", 10, "c", 11), ("b", 5, None, None)]   # move 1 a->c, delete 3
    b2 = [(None, None, "d", 7), ("a", 20, "a", 25)]   # insert, in-group update
    src = str(tmp_path / "cdc")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_ivm_apply(stream, view, str(tmp_path / "ck"), "g")
        q.awaitTermination(120)

    run()
    got = {r.g: (r.n, r.s) for r in read_cdc_snapshot(spark, view).collect()}
    assert got == {"a": (1, 25), "c": (1, 11), "d": (1, 7)}

    b3 = [("c", 11, None, None), (None, None, "b", 9)]  # delete c, revive b
    spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(src)
    run()
    got = {r.g: (r.n, r.s) for r in read_cdc_snapshot(spark, view).collect()}
    assert got == {"a": (1, 25), "d": (1, 7), "b": (1, 9)}


def test_stream_funnel_equals_batch_q45(spark, tmp_path):
    """Streaming per-user funnel state machine on an in-order finite replay
    == the q45 batch operator: same steps_completed and same earliest
    qualified step times for every user, across micro-batches and a
    checkpointed RESTART (state = 4 longs per user)."""
    from guardian_for_apache_kafka_spark.operators.timeseries import funnel_steps
    from guardian_for_apache_kafka_spark.streaming.stateful import stream_funnel_steps

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    src, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")
    first.coalesce(1).write.parquet(src)

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stream_funnel_steps(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    # restart with the second half arriving — state carries across
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    latest = (
        spark.read.parquet(out)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
            ),
        )
        .where("rn = 1")
    )
    got = {
        r.user_id: (r.steps_completed, r.step1_us, r.step2_us, r.step3_us)
        for r in latest.collect()
    }

    def us(t):
        return None if t is None else int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)

    want = {
        r.user_id: (r.steps_completed, us(r.step1_ts), us(r.step2_ts), us(r.step3_ts))
        for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()
    }
    # batch emits only users with step1; the stream emits every user seen
    assert set(want) <= set(got)
    for u, w in want.items():
        assert got[u] == w, u
    for u in set(got) - set(want):
        assert got[u][0] == 0  # step-1-less users: 0 steps completed


def test_stream_heavy_hitters_equal_batch_q56(spark, tmp_path):
    """Streaming per-batch exact token counts rolled up == the q56 batch
    heavy-hitters output, across micro-batches that each see a DIFFERENT
    token mix (the threshold must not be applied per batch) — then a
    simulated crash-replay of one batch (rewriting its batch=<id> dir)
    changes nothing, which is the overwrite-versioning idempotency claim."""
    import os

    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        heavy_hitters_rollup,
        stream_heavy_hitters,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    src = str(tmp_path / "in")
    n = docs.count()
    first = docs.orderBy("doc_id").limit(n // 2)
    rest = docs.orderBy("doc_id").subtract(first)
    first.coalesce(1).write.parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    dest, ckpt = str(tmp_path / "counts"), str(tmp_path / "ck")
    q = stream_heavy_hitters(stream, dest, ckpt)
    q.awaitTermination(120)

    want = [tuple(r) for r in all_queries()["q56_heavy_hitters"](spark, sf).collect()]
    got = [tuple(r) for r in heavy_hitters_rollup(spark, dest).collect()]
    assert got == want
    assert len(want) > 0

    # crash-replay simulation: rewrite an existing batch dir with the same
    # content (what a foreachBatch replay does) — rollup must be unchanged
    batch_dirs = [d for d in os.listdir(dest) if d.startswith("batch=")]
    assert len(batch_dirs) >= 2  # maxFilesPerTrigger=1 over 2 files
    replay = spark.read.parquet(os.path.join(dest, batch_dirs[0]))
    replay.write.mode("overwrite").parquet(os.path.join(dest, batch_dirs[0] + "_tmp"))
    spark.read.parquet(os.path.join(dest, batch_dirs[0] + "_tmp")).write.mode(
        "overwrite"
    ).parquet(os.path.join(dest, batch_dirs[0]))
    import shutil

    shutil.rmtree(os.path.join(dest, batch_dirs[0] + "_tmp"))
    assert [tuple(r) for r in heavy_hitters_rollup(spark, dest).collect()] == want


def test_stream_last_touch_equals_batch_q75(spark, tmp_path):
    """Streaming last-touch attribution on an in-order finite replay — split
    across micro-batches and a checkpointed RESTART — aggregates to exactly
    the batch q75 channel rows (state = last non-purchase event per user)."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.stateful import stream_last_touch

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    src, ck, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    first.coalesce(1).write.parquet(src)

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stream_last_touch(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    got_rows = spark.read.parquet(out)
    # append mode emits each purchase exactly once across both runs
    assert got_rows.count() == got_rows.select("event_id").distinct().count()
    got = {
        r.channel: (r.n_purchases, r.revenue)
        for r in got_rows.groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .collect()
    }
    want = {
        r.channel: (r.n_purchases, r.revenue)
        for r in all_queries()["q75_last_touch_attribution"](spark, sf).collect()
    }
    assert got == want


def test_stream_debounce_equals_batch_q91(spark, tmp_path):
    """Streaming debounce on an in-order finite replay (two micro-batches +
    restart) emits exactly the batch keep=1 rows per (user, event_type)."""
    from guardian_for_apache_kafka_spark.streaming.stateful import stream_debounce

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    src, ck, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    first.coalesce(1).write.parquet(src)

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stream_debounce(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    got = {r.event_id for r in spark.read.parquet(out).collect()}

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    keep = F.when(F.lag("ts").over(w).isNull() | (gap > 300), 1).otherwise(0)
    want = {
        r.event_id
        for r in ev.select("event_id", keep.alias("k")).where("k = 1").collect()
    }
    assert got == want


def test_stream_silence_alerts_fire_on_watermark(spark, tmp_path):
    """EventTimeTimeout state: a user who stops producing gets an alert once
    the watermark (driven by OTHER users' later events) passes last_seen +
    silence; active users only heartbeat; a returning user re-arms."""
    import datetime as dtm

    from guardian_for_apache_kafka_spark.streaming.stateful import (
        stream_silence_alerts,
    )

    T = lambda m: dtm.datetime(2024, 1, 1) + dtm.timedelta(minutes=m)  # noqa: E731
    schema = "user_id BIGINT, ts TIMESTAMP"
    # batch 1: users 1 and 2 active at minute 0
    b1 = [(1, T(0)), (2, T(0))]
    # batch 2: only user 2 keeps going, far past user 1's silence window
    b2 = [(2, T(90)), (2, T(120))]
    src, ck, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "1 minute")
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stream_silence_alerts(stream, silence_seconds=3600)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    run()
    rows = spark.read.parquet(out).collect()
    alerts = {(r.user_id, r.last_seen_us) for r in rows if r.alerted}
    beats = {r.user_id for r in rows if not r.alerted}
    us0 = int(T(0).replace(tzinfo=dtm.timezone.utc).timestamp() * 1e6)
    # user 1 alerted with its last-seen time; user 2 never alerted
    assert (1, us0) in alerts
    assert all(u != 2 for u, _ in alerts)
    assert {1, 2} <= beats


def test_stream_markov_equals_batch_q98(spark, tmp_path):
    """Streaming transition extraction on an in-order finite replay (two
    micro-batch runs with a restart between them) emits exactly the
    consecutive in-session pairs; counting + row-normalizing them
    reproduces the batch q98 matrix, with the session that STRADDLES the
    restart stitched by the persisted per-user state."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.stateful import (
        stream_markov_transitions,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    src, ck, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    first.coalesce(1).write.parquet(src)

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stream_markov_transitions(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    emitted = spark.read.parquet(out)
    wrow = Window.partitionBy("from_type")
    got = {
        (r.from_type, r.to_type, r.n, r.p)
        for r in emitted.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 4).alias("p"),
        )
        .collect()
    }
    want = {
        (r.from_type, r.to_type, r.n, r.p)
        for r in all_queries()["q98_markov_transitions"](spark, sf).collect()
    }
    assert got == want


def test_stream_contract_checks_equals_batch_q100(spark, tmp_path):
    """Complete-mode contract monitor: after a finite replay drains, the
    maintained table equals batch q100 row-for-row (the shared
    contract_violation_aggs dict makes check drift impossible; this
    asserts the aggregation plumbing)."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        stream_contract_checks,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    ev.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stream_contract_checks(stream)
        .writeStream.format("memory")
        .queryName("contract_monitor")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT check_name, n_violations, n_rows, passed FROM contract_monitor"
        ).collect()
    }
    want = {
        tuple(r) for r in all_queries()["q100_contract_checks"](spark, sf).collect()
    }
    assert got == want


def test_stream_incremental_dedup_equals_batch_fold(spark, tmp_path):
    """Continuous-ingest dedup == the batch fold of (star-dedup within wave,
    then incremental_dedup vs accumulated keepers) over the same arrival
    waves — and a simulated crash-replay of the last wave appends nothing
    (the Jaccard-1.0 self-match idempotency claim)."""
    from guardian_for_apache_kafka_spark.operators.dedup import incremental_dedup
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        star_dedup_batch,
        stream_incremental_dedup,
    )

    sf = "/root/testdata/sf0.001"
    # 250 docs keep the run short; the slice still contains near-dup pairs
    # both within and across the %3 arrival waves (asserted below).
    docs = (
        load_table(spark, sf, "documents")
        .where(F.col("doc_id") < 250)
        .select("doc_id", "text", "source")
    )
    src = str(tmp_path / "in")
    n = docs.count()
    # One deterministically-named file per wave with forced, strictly
    # increasing mtimes: FileStreamSource orders by (modTime, path), so the
    # stream's processing order and the fold's sorted-filename order agree —
    # appended part-files would have random task UUIDs in their names and the
    # two orders could diverge (wave order decides WHICH near-dup survives).
    import time

    os.makedirs(src)
    base = int(time.time())
    for i in range(3):
        wave_dir = str(tmp_path / f"wave{i}")
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(wave_dir)
        (part,) = [f for f in os.listdir(wave_dir) if f.startswith("part-")]
        dst = os.path.join(src, f"wave{i}.parquet")
        os.rename(os.path.join(wave_dir, part), dst)
        os.utime(dst, (base + i, base + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    keepers, ckpt = str(tmp_path / "keep"), str(tmp_path / "ck")
    q = stream_incremental_dedup(stream, keepers, ckpt)
    q.awaitTermination(180)

    # batch fold over the same waves, in FILE order (the stream's order)
    import glob

    files = sorted(glob.glob(os.path.join(src, "wave*.parquet")))
    assert len(files) == 3
    acc = None
    for f in files:
        wave = spark.read.schema(docs.schema).parquet(f)
        surv = star_dedup_batch(wave)
        if acc is not None:
            surv = incremental_dedup(surv, acc)
        acc = surv if acc is None else acc.unionByName(surv)
        acc = acc.localCheckpoint()  # keep the fold's lineage flat

    want = sorted(tuple(r) for r in acc.collect())
    got_df = spark.read.parquet(keepers)
    got = sorted(tuple(r) for r in got_df.collect())
    assert got == want
    assert 0 < len(got) < n  # dedup actually dropped something

    # crash-replay simulation: re-running the LAST wave through the batch
    # body must append zero rows (every doc self-matches its own append)
    last = spark.read.schema(docs.schema).parquet(files[-1])
    replay_surv = incremental_dedup(
        star_dedup_batch(last), spark.read.parquet(keepers)
    )
    assert replay_surv.count() == 0


def test_stream_interval_join_equals_batch_range_join(spark, sf_dir, tmp_path):
    """Stream-stream watermarked interval join (view -> click within 10 min
    per user) on a finite replay equals the identical batch range join —
    the §2.3 equivalence contract for the one join shape where BOTH sides
    are streams. The generous watermark makes nothing late, so inner-join
    semantics must match batch exactly."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        stream_interval_join,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("user_id", "event_type", "ts", "event_id")
    )
    src = str(tmp_path / "in")
    ev.repartition(4).write.parquet(src)

    def views(df):
        return df.where(F.col("event_type") == "view").select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )

    def clicks(df):
        return df.where(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    joined = stream_interval_join(
        views(stream),
        clicks(stream),
        key_col="user_id",
        left_ts="view_ts",
        right_ts="click_ts",
        max_delay="10 minutes",
        watermark="3650 days",
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = views(ev).alias("l").join(
        clicks(ev).alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.click_ts") >= F.col("l.view_ts"))
        & (F.col("r.click_ts") <= F.col("l.view_ts") + F.expr("INTERVAL 10 minutes")),
        "inner",
    ).drop(F.col("r.user_id"))
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert len(got) > 0  # the corpus actually exercises the join


def test_stream_ewma_equals_sequential_fold(spark, tmp_path):
    """Streaming EWMA recurrence on an in-order finite replay == a per-user
    sequential fold over the batch table (bit-identical doubles), with state
    carried ACROSS micro-batches (input staged as two ordered files)."""
    from guardian_for_apache_kafka_spark.streaming.stateful import stream_ewma

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "in")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    first.coalesce(1).write.parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stream_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r.ewma
        for r in spark.sql("select event_id, ewma from ewma_stream").collect()
    }

    rows = ev.select("user_id", "event_id", "ts", "value").orderBy(
        "ts", "event_id"
    ).collect()
    state: dict[int, float] = {}
    want = {}
    for r in rows:
        prev = state.get(r.user_id)
        cur = float(r.value) if prev is None else 0.3 * float(r.value) + 0.7 * prev
        state[r.user_id] = cur
        want[r.event_id] = cur
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == v  # bit-identical recurrence


def test_stream_manifest_equals_archive_manifest(spark, tmp_path):
    """Continuous fixity: the manifest accumulated across micro-batches,
    rolled up, equals the manifest computed from the batch-written archive
    files (per-slice counts AND content checksums), and a simulated
    crash-replayed batch (identical increment rows re-appended with the
    same batch_id) changes nothing."""
    import datetime as dtm
    import re

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import (
        ChronoUnitSlice,
        key_to_datetime,
    )
    from guardian_for_apache_kafka_spark.operators import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.maintenance import archive_manifest
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        manifest_rollup,
        records_file_stream,
        stream_manifest,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    records = normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    src = str(tmp_path / "in")
    ordered = records.orderBy("timestamp", "offset")
    n = records.count()
    first = ordered.limit(n // 2)
    first.coalesce(1).write.parquet(src)
    ordered.subtract(first).coalesce(1).write.mode("append").parquet(src)

    mdir, ckpt = str(tmp_path / "manifest"), str(tmp_path / "ckpt")
    q = stream_manifest(
        records_file_stream(spark, src, max_files_per_trigger=1), mdir, ckpt
    )
    q.awaitTermination(120)
    got = {
        r.slice: (r.n_records, r.checksum)
        for r in manifest_rollup(spark, mdir).collect()
    }

    arch = str(tmp_path / "arch")
    write_guardian_format(records, arch, ChronoUnitSlice("HOURS"))
    want = {}
    for r in archive_manifest(spark, arch).collect():
        t = key_to_datetime(r.slice + ".json").astimezone(dtm.timezone.utc)
        want[t.strftime("%Y-%m-%dT%H:%M:%SZ")] = (r.n_records, r.checksum)
    assert got == want and len(got) > 1

    # simulate a crash-replayed batch: re-append one increment file verbatim
    inc = spark.read.parquet(mdir)
    one = inc.where(F.col("batch_id") == inc.agg(F.min("batch_id")).collect()[0][0])
    one.write.mode("append").parquet(mdir)
    again = {
        r.slice: (r.n_records, r.checksum)
        for r in manifest_rollup(spark, mdir).collect()
    }
    assert again == want


def test_stream_ab_rollup_equals_q107(spark, tmp_path):
    """A/B evidence accumulated across micro-batches, rolled up, equals the
    q107 batch readout row-for-row (same shared chi-square formula), and a
    replayed evidence append changes nothing."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        ab_rollup,
        stream_ab_activity,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    first.coalesce(1).write.parquet(src)
    ordered.subtract(first).coalesce(1).write.mode("append").parquet(src)

    dest, ckpt = str(tmp_path / "evidence"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_ab_activity(stream, dest, ckpt)
    q.awaitTermination(120)

    got = ab_rollup(spark, dest).collect()
    want = all_queries()["q107_ab_test_chisquare"](spark, sf).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    # replayed batch: re-append the evidence file set verbatim
    spark.read.parquet(dest).write.mode("append").parquet(dest)
    again = ab_rollup(spark, dest).collect()
    assert [r.asDict() for r in again] == [r.asDict() for r in want]


def test_stream_manifest_restart_no_double_count(spark, tmp_path):
    """stream_manifest restart discipline: stop after the first wave, restart
    a NEW query on the SAME checkpoint as more records arrive — the rolled-up
    manifest equals the single-pass expected manifest (no slice double-counted
    across the restart, none lost)."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.maintenance import (
        record_checksum_col,
    )
    from guardian_for_apache_kafka_spark.core.timeslice import slice_col
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        manifest_rollup,
        records_file_stream,
        stream_manifest,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    records = normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    src, mdir, ckpt = (str(tmp_path / p) for p in ("in", "manifest", "ckpt"))
    first = records.where(F.col("offset") < 200)
    second = records.where(F.col("offset") >= 200)
    first.write.parquet(src)
    q1 = stream_manifest(records_file_stream(spark, src), mdir, ckpt)
    q1.awaitTermination(120)
    second.write.mode("append").parquet(src)
    q2 = stream_manifest(records_file_stream(spark, src), mdir, ckpt)
    q2.awaitTermination(120)

    got = {
        r.slice: (r.n_records, r.checksum)
        for r in manifest_rollup(spark, mdir).collect()
    }
    expected = {
        r.slice: (r.n, r.ck)
        for r in records.withColumn(
            "__s", slice_col(F.col("timestamp"), ChronoUnitSlice("HOURS"))
        )
        .withColumn("__ck", record_checksum_col())
        .groupBy(F.date_format("__s", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("slice"))
        .agg(F.count("*").alias("n"), F.sum("__ck").alias("ck"))
        .collect()
    }
    assert got == expected and len(got) > 1


def test_stream_psi_rollup_equals_q109(spark, tmp_path):
    """PSI monitor: streaming-accumulated current-period bin counts vs the
    static baseline equals the q109 batch report row-for-row (shared
    formula + shared binning), across micro-batches and under a replayed
    evidence append."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        psi_rollup,
        stream_psi_activity,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    base = ev.where(F.col("ts") < cut)
    current = ev.where(F.col("ts") >= cut)

    src = str(tmp_path / "in")
    ordered = current.orderBy("ts", "event_id")
    n = current.count()
    first = ordered.limit(n // 2)
    first.coalesce(1).write.parquet(src)
    ordered.subtract(first).coalesce(1).write.mode("append").parquet(src)

    dest, ckpt = str(tmp_path / "counts"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_psi_activity(stream, dest, ckpt)
    q.awaitTermination(120)

    got = [r.asDict() for r in psi_rollup(spark, dest, base).collect()]
    want = [
        r.asDict()
        for r in all_queries()["q109_psi_drift"](spark, sf).collect()
    ]
    assert got == want and len(got) > 1

    spark.read.parquet(dest).write.mode("append").parquet(dest)  # replay
    again = [r.asDict() for r in psi_rollup(spark, dest, base).collect()]
    assert again == want


def test_psi_rollup_with_no_current_rows_is_finite(spark, tmp_path):
    """A PSI monitor that has seen NO current-period rows yet must emit a
    finite (alerting) report — current smooths to the uniform mass — never
    NULL terms a threshold check silently skips (review r6)."""
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        psi_rollup,
        stream_psi_activity,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "in")
    # stage an EMPTY parquet input: schema only, zero rows
    ev.limit(0).write.parquet(src)
    dest, ckpt = str(tmp_path / "counts"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = stream_psi_activity(stream, dest, ckpt)
    q.awaitTermination(120)
    # foreachBatch may not have written anything; seed the dir with an
    # empty frame of the right schema so the rollup can read it
    import os

    if not os.path.isdir(dest) or not os.listdir(dest):
        spark.createDataFrame([], "bin long, n long, batch_id long").write.parquet(dest)
    rows = psi_rollup(spark, dest, ev).collect()
    assert rows, "report must not be empty"
    for r in rows:
        assert r.psi_term is not None and r.psi_total is not None
    assert rows[0].psi_total > 0  # drifted-by-absence IS drift


def test_checkpoint_inventory_reports_committed_batches(spark, tmp_path):
    """After a clean availableNow run, every planned batch is committed; the
    inventory shows (offset_logged, committed) per batch and is empty for a
    directory that is not a checkpoint."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        checkpoint_inventory,
        records_file_stream,
        stream_manifest,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    records = normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    src, mdir, ckpt = (str(tmp_path / p) for p in ("in", "m", "ckpt"))
    half = records.where(F.col("offset") < 200)
    half.coalesce(1).write.parquet(src)
    records.subtract(half).coalesce(1).write.mode("append").parquet(src)
    q = stream_manifest(
        records_file_stream(spark, src, max_files_per_trigger=1), mdir, ckpt
    )
    q.awaitTermination(120)

    inv = checkpoint_inventory(spark, ckpt).collect()
    assert len(inv) >= 2  # maxFilesPerTrigger=1 over two files
    assert all(r.offset_logged and r.committed for r in inv)
    assert [r.batch_id for r in inv] == sorted(r.batch_id for r in inv)

    assert checkpoint_inventory(spark, str(tmp_path / "nope")).count() == 0

    # ADVICE r6: a URI-scheme checkpoint path must inventory identically
    # (os.listdir silently returned empty for any '://' path); missing
    # dirs under a scheme are still the empty inventory
    uri_inv = checkpoint_inventory(spark, "file://" + ckpt).collect()
    assert sorted(r.batch_id for r in uri_inv) == sorted(r.batch_id for r in inv)
    assert checkpoint_inventory(spark, "file://" + str(tmp_path / "nope2")).count() == 0


def test_checkpoint_inventory_scheme_alias_and_bad_scheme(spark, tmp_path, monkeypatch):
    """VERDICT r7 #4 follow-through: an ALIASED object-store scheme
    (SPARK_GRAFT_SCHEME_ALIASES=s3a=file, the local shim the CLI e2e
    drives) inventories identically to the bare path — normalize_uri is
    applied at entry, same boundary as every other Hadoop-side consumer —
    and an UNALIASED unsupported scheme raises instead of silently
    reporting an empty inventory (the failure mode the old os.listdir
    version had for every '://' path)."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        checkpoint_inventory,
        records_file_stream,
        stream_manifest,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    records = normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    src, mdir, ckpt = (str(tmp_path / p) for p in ("in", "m", "ckpt"))
    records.coalesce(1).write.parquet(src)
    q = stream_manifest(records_file_stream(spark, src), mdir, ckpt)
    q.awaitTermination(120)
    inv = checkpoint_inventory(spark, ckpt).collect()
    assert inv and all(r.committed for r in inv)

    monkeypatch.setenv("SPARK_GRAFT_SCHEME_ALIASES", "s3a=file")
    alias_inv = checkpoint_inventory(spark, f"s3a://{ckpt}").collect()
    assert sorted(r.batch_id for r in alias_inv) == sorted(r.batch_id for r in inv)
    # aliased-but-missing is still the legitimate empty state
    assert checkpoint_inventory(spark, f"s3a://{tmp_path}/nope3").count() == 0

    monkeypatch.delenv("SPARK_GRAFT_SCHEME_ALIASES")
    with pytest.raises(Exception):
        checkpoint_inventory(spark, f"nosuchscheme://{ckpt}").collect()


def test_stream_cusum_equal_batch_q120_and_resumes(spark, tmp_path):
    """Streaming count-point accumulation rolled up == the q120 batch
    CUSUM changepoint (shared operators/timeseries.cusum_changepoints
    core), across micro-batches, a restart, and a simulated replayed
    batch (event-identity distinct makes duplicate appends harmless)."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        cusum_rollup,
        stream_daily_count_points,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_daily_count_points(stream, dest, ckpt)
        q.awaitTermination(120)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q120_cusum_changepoint"](spark, sf).collect()]
    got = [tuple(r) for r in cusum_rollup(spark, dest).collect()]
    assert got == want
    # replay simulation: re-appending points must not change the verdict
    spark.read.parquet(dest).limit(40).write.mode("append").parquet(dest)
    assert [tuple(r) for r in cusum_rollup(spark, dest).collect()] == want


def test_stream_auc_equal_batch_q122_and_resumes(spark, tmp_path):
    """Streaming score-point accumulation rolled up == the q122 batch AUC
    (shared operators/evaluation.auc_mann_whitney core), across
    micro-batches, a restart, and a simulated replayed batch."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        auc_rollup,
        stream_score_points,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    first = ordered.limit(n // 2)
    rest = ordered.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_score_points(stream, dest, ckpt)
        q.awaitTermination(120)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q122_auc_mann_whitney"](spark, sf).collect()]
    got = [tuple(r) for r in auc_rollup(spark, dest).collect()]
    assert got == want
    spark.read.parquet(dest).limit(25).write.mode("append").parquet(dest)
    assert [tuple(r) for r in auc_rollup(spark, dest).collect()] == want


def test_stream_incremental_topk_equal_batch_s1_and_resumes(spark, tmp_path):
    """Per-batch local top-k accumulation re-ranked == batch cosine top-k
    over the full corpus (any global winner is inside its own batch's
    top-k), across micro-batches, a restart, and a replayed batch."""
    from guardian_for_apache_kafka_spark.operators.similarity import cosine_topk
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        stream_topk_candidates,
        topk_rollup,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    src = str(tmp_path / "in")
    n = emb.count()
    first = emb.orderBy("vec_id").limit(n // 2)
    rest = emb.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "cand"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(emb.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_topk_candidates(stream, queries, dest, ckpt, k=5)
        q.awaitTermination(120)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [
        (r.query_id, r.vec_id, round(r.cosine, 6), r.rnk)
        for r in cosine_topk(emb, queries, k=5).collect()
    ]
    got = [
        (r.query_id, r.vec_id, round(r.cosine, 6), r.rnk)
        for r in topk_rollup(spark, dest, k=5).collect()
    ]
    assert got == want
    # replayed batch: duplicate candidates change nothing
    spark.read.parquet(dest).limit(10).write.mode("append").parquet(dest)
    got2 = [
        (r.query_id, r.vec_id, round(r.cosine, 6), r.rnk)
        for r in topk_rollup(spark, dest, k=5).collect()
    ]
    assert got2 == want


def test_stream_ks_drift_equal_batch_q123_and_resumes(spark, tmp_path):
    """Streaming length-point accumulation rolled up == the q123 batch KS
    matrix (shared operators/evaluation.ks_statistic_pairs core), across
    micro-batches, a restart, and a replayed batch."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        ks_rollup,
        stream_length_points,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    src = str(tmp_path / "in")
    n = docs.count()
    first = docs.orderBy("doc_id").limit(n // 2)
    rest = docs.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_length_points(stream, dest, ckpt)
        q.awaitTermination(120)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q123_ks_drift"](spark, sf).collect()]
    got = [tuple(r) for r in ks_rollup(spark, dest).collect()]
    assert got == want
    spark.read.parquet(dest).limit(30).write.mode("append").parquet(dest)
    assert [tuple(r) for r in ks_rollup(spark, dest).collect()] == want


def test_stream_weighted_median_equal_batch_q125_and_resumes(spark, tmp_path):
    """Streaming price-point accumulation rolled up == the q125 batch
    weighted median, across micro-batches, restart, and replay."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        stream_price_points,
        weighted_median_rollup,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    src = str(tmp_path / "in")
    n = li.count()
    first = li.orderBy("l_orderkey", "l_linenumber").limit(n // 2)
    rest = li.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(li.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_price_points(stream, dest, ckpt)
        q.awaitTermination(120)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q125_weighted_median"](spark, sf).collect()]
    got = [tuple(r) for r in weighted_median_rollup(spark, dest).collect()]
    assert got == want
    spark.read.parquet(dest).limit(50).write.mode("append").parquet(dest)
    assert [tuple(r) for r in weighted_median_rollup(spark, dest).collect()] == want


def test_stream_novelty_equal_batch_t35_and_resumes(spark, tmp_path):
    """Streaming shingle-point accumulation rolled up == the t35 batch
    novelty profile (shared novelty_from_pairs core), including restart
    replay: kill after the first file, resume, and the rollup still
    matches — min-doc attribution is arrival-order-insensitive and the
    identity distinct absorbs replayed appends."""
    from guardian_for_apache_kafka_spark.operators.text import shingle_novelty_profile
    from guardian_for_apache_kafka_spark.sources.tables import load_table
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        novelty_rollup,
        stream_shingle_points,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src, dest, ckpt = (str(tmp_path / p) for p in ("in", "pts", "ckpt"))
    half = docs.where(F.col("doc_id") < 250)
    half.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_shingle_points(stream, dest, ckpt)
    q.awaitTermination(120)

    # second half arrives after a restart — a doc in file 2 can only be
    # novel for shingles file 1 never produced
    docs.subtract(half).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q2 = stream_shingle_points(stream2, dest, ckpt)
    q2.awaitTermination(120)

    got = {
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty_ratio)
        for r in novelty_rollup(spark, dest).collect()
    }
    want = {
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty_ratio)
        for r in shingle_novelty_profile(docs).collect()
    }
    assert got == want


def test_stream_randomness_monitors_equal_batch_q132_q133(spark, tmp_path):
    """The q120 count-point stream feeds THREE monitors now: CUSUM (q120),
    turning points (q132) and the runs test (q133) — one sink, three
    rollups, each equal to its batch query via the shared timeseries
    cores. Kill/restart replay is absorbed by the identity distinct
    (same contract as the cusum twin)."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.sources.tables import load_table
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        runs_test_rollup,
        stream_daily_count_points,
        turning_points_rollup,
    )

    sfd = "/root/testdata/sf0.001"
    ev = load_table(spark, sfd, "events")
    src, dest, ckpt = (str(tmp_path / p) for p in ("in", "pts", "ckpt"))
    half = ev.where(F.col("event_id") % 2 == 0)
    half.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_daily_count_points(stream, dest, ckpt)
    q.awaitTermination(120)
    # restart with the second half arriving later
    ev.subtract(half).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q2 = stream_daily_count_points(stream2, dest, ckpt)
    q2.awaitTermination(120)

    qs = all_queries()
    got_tp = {tuple(r) for r in turning_points_rollup(spark, dest).collect()}
    want_tp = {tuple(r) for r in qs["q132_turning_points"](spark, sfd).collect()}
    assert got_tp == want_tp
    got_rt = {tuple(r) for r in runs_test_rollup(spark, dest).collect()}
    want_rt = {tuple(r) for r in qs["q133_runs_test"](spark, sfd).collect()}
    assert got_rt == want_rt


def test_stream_jsd_equal_batch_q141_and_resumes(spark, tmp_path):
    """Streaming week/type-point accumulation rolled up == the q141 batch
    JSD drift report, across micro-batches, restart, and replayed
    appends (identity distinct absorbs duplicates)."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        jsd_rollup,
        stream_week_type_points,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    n = ev.count()
    first = ev.orderBy("event_id").limit(n // 2)
    rest = ev.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_week_type_points(stream, dest, ckpt)
        q.awaitTermination(120)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q141_jsd_drift"](spark, sf).collect()]
    got = [tuple(r) for r in jsd_rollup(spark, dest).collect()]
    assert got == want
    spark.read.parquet(dest).limit(50).write.mode("append").parquet(dest)
    assert [tuple(r) for r in jsd_rollup(spark, dest).collect()] == want


def test_stream_conditional_entropy_equal_batch_q142_and_resumes(spark, tmp_path):
    """Stateful transition extraction (unbounded gap) rolled up == the
    q142 batch conditional entropy, across micro-batches, restart, and
    replayed appends."""
    from guardian_for_apache_kafka_spark.plans import all_queries
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        conditional_entropy_rollup,
        stream_transition_points,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "in")
    n = ev.count()
    # split on event TIME so per-user continuations cross the restart
    # boundary (the stateful handoff under test)
    first = ev.orderBy("ts", "event_id").limit(n // 2)
    rest = ev.subtract(first)
    first.coalesce(1).write.parquet(src)

    dest, ckpt = str(tmp_path / "pts"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_transition_points(stream, dest, ckpt)
        q.awaitTermination(180)

    run()
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    want = [tuple(r) for r in all_queries()["q142_conditional_entropy"](spark, sf).collect()]
    got = [tuple(r) for r in conditional_entropy_rollup(spark, dest).collect()]
    assert got == want
    spark.read.parquet(dest).limit(50).write.mode("append").parquet(dest)
    assert [tuple(r) for r in conditional_entropy_rollup(spark, dest).collect()] == want
