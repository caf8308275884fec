"""Streaming sinks: the one foreachBatch runner, writer identity in the
commit-log stream and in the guardian stream writer, the guardian stream
writer's staging cleanup, and the continuous (non-availableNow) trigger."""

import os
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.core import normalize_events_to_records
from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice, key_to_datetime
from guardian_for_apache_kafka_spark.operators.commitlog import (
    list_versions,
    read_commit,
    stream_committed_backup,
    time_travel_read,
)
from guardian_for_apache_kafka_spark.sources.tables import load_table
from guardian_for_apache_kafka_spark.streaming.pipeline import (
    manifest_rollup,
    records_file_stream,
    stream_manifest,
)

PACKAGE = Path(__file__).resolve().parents[1] / "guardian_for_apache_kafka_spark"


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 400)
    return normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )


def as_set(df):
    return {
        (r.topic, r.partition, r.offset, bytes(r.key) if r.key else None,
         bytes(r.value), r.timestamp, r.timestamp_type)
        for r in df.collect()
    }


def test_one_foreach_batch_call_site():
    """Every foreachBatch sink starts through streaming/pipeline.
    _start_foreach_batch: the package holds exactly one ``.foreachBatch(``."""
    hits = [
        (str(p.relative_to(PACKAGE)), line.strip())
        for p in sorted(PACKAGE.rglob("*.py"))
        for line in p.read_text().splitlines()
        if ".foreachBatch(" in line
    ]
    assert len(hits) == 1, hits
    assert hits[0][0] == os.path.join("streaming", "pipeline.py")


def test_stream_committed_backup_two_checkpoints_one_archive(spark, records, tmp_path):
    """Two queries (two checkpoints) archive disjoint records into one
    destination, with overlapping slices: both queries' batches commit and
    a snapshot restore returns every record. A replayed batch of one
    checkpoint (its last offset commit deleted) is still a no-op."""
    dest = str(tmp_path / "arch")
    halves = {
        "a": records.where(F.col("offset") % 2 == 0),
        "b": records.where(F.col("offset") % 2 == 1),
    }
    for name, half in halves.items():
        src = str(tmp_path / f"src_{name}")
        half.repartition(2).write.parquet(src)
        q = stream_committed_backup(
            records_file_stream(spark, src, max_files_per_trigger=1),
            dest, str(tmp_path / f"ckpt_{name}"), ChronoUnitSlice("HOURS"),
        )
        q.awaitTermination(120)
    assert as_set(time_travel_read(spark, dest)) == as_set(records)

    versions = list_versions(dest)
    commits = [read_commit(dest, v) for v in versions]
    slices_by_query: dict = {}
    for c in commits:
        decoration = f".q{uuid.UUID(c['query_id']).hex}.b{c['batch_id']}."
        assert all(decoration in a["key"] for a in c["actions"])
        slices_by_query.setdefault(c["query_id"], set()).update(
            key_to_datetime(a["key"]) for a in c["actions"]
        )
    assert len(slices_by_query) == 2
    a_slices, b_slices = slices_by_query.values()
    assert a_slices & b_slices, "setup: the two queries must share a slice"

    # replay checkpoint b's last batch: the offset log plans it again, the
    # commit log already holds its (query_id, batch_id) -> no new version
    commits_dir = tmp_path / "ckpt_b" / "commits"
    last = max(int(n) for n in os.listdir(commits_dir) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if (commits_dir / name).exists():
            (commits_dir / name).unlink()
    q = stream_committed_backup(
        records_file_stream(spark, str(tmp_path / "src_b"), max_files_per_trigger=1),
        dest, str(tmp_path / "ckpt_b"), ChronoUnitSlice("HOURS"),
    )
    q.awaitTermination(120)
    assert (commits_dir / str(last)).exists(), "setup: the batch was replayed"
    assert list_versions(dest) == versions
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_guardian_stream_writer_leaves_no_staging(spark, records, tmp_path):
    """A multi-batch ``writeStream.format("guardian")`` run leaves only
    ``slice=`` directories in the archive root: every batch's staging dir
    is removed at commit."""
    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    gs.register_guardian_datasource(spark)
    src, dest = str(tmp_path / "in"), str(tmp_path / "arch")
    records.repartition(3).write.parquet(src)
    q = (
        spark.readStream.schema(records.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("guardian")
        .option("chronoUnitSlice", "hours")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(dest)
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3, "setup: several micro-batches"
    names = os.listdir(dest)
    assert names and all(n.startswith("slice=") for n in names), sorted(names)


def test_guardian_stream_writer_two_checkpoints_one_destination(spark, records, tmp_path):
    """Two ``writeStream.format("guardian")`` queries (two checkpoints)
    write disjoint records into overlapping slices of one destination: every
    record restores once. A replayed batch of one checkpoint (its last
    offset commit deleted) replaces its own files only."""
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    gs.register_guardian_datasource(spark)
    dest = str(tmp_path / "arch")

    def run(name: str) -> None:
        q = (
            spark.readStream.schema(records.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / f"src_{name}"))
            .writeStream.format("guardian")
            .option("chronoUnitSlice", "hours")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start(dest)
        )
        q.awaitTermination(120)

    for name, rem in (("a", 0), ("b", 1)):
        records.where(F.col("offset") % 2 == rem).repartition(2).write.parquet(
            str(tmp_path / f"src_{name}")
        )
        run(name)
    total = records.count()
    restored = restore_batch(spark, dest, fmt="json")
    assert restored.count() == total
    assert as_set(restored) == as_set(records)
    queries_per_slice = [
        {n.split("-")[2] for n in os.listdir(os.path.join(dest, d))} for d in os.listdir(dest)
    ]
    assert any(len(q) == 2 for q in queries_per_slice), "setup: the queries share a slice"

    commits_dir = tmp_path / "ckpt_b" / "commits"
    last = max(int(n) for n in os.listdir(commits_dir) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if (commits_dir / name).exists():
            (commits_dir / name).unlink()
    run("b")
    assert (commits_dir / str(last)).exists(), "setup: the batch was replayed"
    assert restore_batch(spark, dest, fmt="json").count() == total


def test_stream_manifest_continuous_trigger(spark, records, tmp_path):
    """The runner's continuous trigger (``available_now=False``): drained
    with processAllAvailable and stopped, the manifest rolls up to the same
    result as the availableNow run over the same input."""
    src = str(tmp_path / "in")
    records.repartition(3).write.parquet(src)

    def rollup(name: str, available_now: bool):
        mdir = str(tmp_path / f"manifest_{name}")
        q = stream_manifest(
            records_file_stream(spark, src, max_files_per_trigger=1),
            mdir, str(tmp_path / f"ckpt_{name}"), available_now=available_now,
        )
        if available_now:
            q.awaitTermination(120)
        else:
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return [r.asDict() for r in manifest_rollup(spark, mdir).collect()]

    want = rollup("now", True)
    got = rollup("continuous", False)
    assert got == want and len(want) > 1
