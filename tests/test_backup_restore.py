"""Pipeline round-trip properties, mirroring the reference's test strategy
(SURVEY.md §5 layer 3: backup completes and decode(backup) == input; every
object but an interrupted last is ``]``-terminated; fromWhen-filtered restore
equality; key-pruning correctness — BackupClientInterfaceTest.scala:169-303,
RestoreClientInterfaceTest.scala:44-151)."""

import datetime as dt
import gzip
import os

import pytest
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.core import normalize_events_to_records
from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice, PeriodFromFirst
from guardian_for_apache_kafka_spark.operators.backup import physical_name
from guardian_for_apache_kafka_spark.operators import (
    backup_batch,
    compact_latest_by_key,
    list_backup_keys,
    prune_keys_from_when,
    restore_batch,
    restore_to_producer_records,
    write_guardian_format,
)
from guardian_for_apache_kafka_spark.sources.tables import load_table

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    # wire format is epoch-millis (Kafka precision); truncate so round-trips are exact
    return normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )


def as_set(df):
    return {
        (r.topic, r.partition, r.offset, bytes(r.key) if r.key else None,
         bytes(r.value), r.timestamp, r.timestamp_type)
        for r in df.collect()
    }


def test_guardian_format_roundtrip(spark, records, tmp_path):
    dest = str(tmp_path / "archive")
    keys = write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    assert keys == list_backup_keys(dest)
    assert all(k.endswith(".json") for k in keys)
    # every file is a well-formed JSON array ending in ']'
    for k in keys:
        body = open(os.path.join(dest, physical_name(k)), "rb").read()
        assert body.startswith(b"[") and body.endswith(b"}]")
    restored = restore_batch(spark, dest, fmt="guardian")
    assert as_set(restored) == as_set(records)


def test_guardian_format_gzip_and_interrupted(spark, records, tmp_path):
    dest = str(tmp_path / "gz")
    keys = write_guardian_format(
        records, dest, ChronoUnitSlice("HOURS"), compression="gzip", interrupted=True
    )
    assert all(k.endswith(".json.gz") for k in keys)
    last = keys[-1]
    body = gzip.open(os.path.join(dest, physical_name(last)), "rb").read()
    assert body.endswith(b",null]")  # terminateSource sentinel
    for k in keys[:-1]:
        assert gzip.open(os.path.join(dest, physical_name(k)), "rb").read().endswith(b"}]")
    # the null sentinel is dropped on parse; round-trip still exact
    restored = restore_batch(spark, dest, fmt="guardian")
    assert as_set(restored) == as_set(records)


def test_period_from_first_slices(spark, records, tmp_path):
    dest = str(tmp_path / "pff")
    keys = write_guardian_format(records, dest, PeriodFromFirst(dt.timedelta(hours=6)))
    # anchor = first record's event time, so the first key IS that timestamp
    first_ts = records.agg(F.min("timestamp")).collect()[0][0]
    from guardian_for_apache_kafka_spark.core.timeslice import key_to_datetime

    assert key_to_datetime(keys[0]) == first_ts.replace(tzinfo=UTC)
    restored = restore_batch(spark, dest, fmt="guardian")
    assert as_set(restored) == as_set(records)


def test_fromwhen_restore_filter(spark, records, tmp_path):
    dest = str(tmp_path / "fw")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    cutoff_row = records.approxQuantile("offset", [0.5], 0)[0]
    cutoff_ts = records.where(F.col("offset") >= cutoff_row).agg(F.min("timestamp")).collect()[0][0]
    from_when = cutoff_ts.replace(tzinfo=UTC)
    restored = restore_batch(spark, dest, from_when=from_when, fmt="guardian")
    expected = records.where(F.col("timestamp") >= F.lit(cutoff_ts))
    assert as_set(restored) == as_set(expected)


def test_prune_keys_straddle_rule():
    keys = [
        "2024-01-01T00:00Z.json",
        "2024-01-01T01:00Z.json",
        "2024-01-01T02:00Z.json",
        "2024-01-01T03:00Z.json",
    ]
    # cutoff inside slice 02: first key >= cutoff is 03:00 (idx 3) -> keep from idx-1 = 02:00
    got = prune_keys_from_when(keys, dt.datetime(2024, 1, 1, 2, 30, tzinfo=UTC))
    assert got == keys[2:]
    # exact boundary: first >= is the slice itself (idx 2) -> keep one before it too
    got = prune_keys_from_when(keys, dt.datetime(2024, 1, 1, 2, 0, tzinfo=UTC))
    assert got == keys[1:]
    # cutoff before the second slice: idx=1 -> max(idx-1,0)=0 -> keep all
    got = prune_keys_from_when(keys, dt.datetime(2024, 1, 1, 0, 30, tzinfo=UTC))
    assert got == keys
    # cutoff before everything -> keep all
    got = prune_keys_from_when(keys, dt.datetime(2023, 12, 31, tzinfo=UTC))
    assert got == keys
    # cutoff after everything -> keep only the last (it may straddle)
    got = prune_keys_from_when(keys, dt.datetime(2024, 1, 2, tzinfo=UTC))
    assert got == keys[-1:]
    assert prune_keys_from_when([], dt.datetime(2024, 1, 1, tzinfo=UTC)) == []


def test_native_jsonl_archive_roundtrip(spark, records, tmp_path):
    dest = str(tmp_path / "native")
    backup_batch(records, dest, ChronoUnitSlice("HOURS"), fmt="json")
    # partition dirs named slice=<ISO>
    dirs = [d for d in os.listdir(dest) if d.startswith("slice=")]
    assert dirs
    restored = restore_batch(spark, dest, fmt="json")
    assert as_set(restored) == as_set(records)
    # pruned restore with both topic filter and from_when
    from_when = dt.datetime(2024, 1, 3, tzinfo=UTC)
    got = restore_batch(spark, dest, topics={"click", "view"}, from_when=from_when, fmt="json")
    exp = records.where(
        F.col("topic").isin("click", "view")
        & (F.col("timestamp") >= F.lit(from_when.replace(tzinfo=None)))
    )
    assert as_set(got) == as_set(exp)


def test_producer_mapping_rename_and_null_key(spark, records):
    out = restore_to_producer_records(records, override_topics={"click": "tap"})
    assert out.columns == ["topic", "key", "value", "timestamp"]
    assert out.where(F.col("topic") == "click").count() == 0
    n_click = records.where(F.col("topic") == "click").count()
    assert out.where(F.col("topic") == "tap").count() == n_click
    # null keys pass through
    nulled = records.withColumn("key", F.lit(None).cast("binary"))
    out2 = restore_to_producer_records(nulled)
    assert out2.where(F.col("key").isNull()).count() == records.count()


def test_compaction_latest_by_key(spark, records, tmp_path):
    compacted = compact_latest_by_key(records)
    # one record per (topic, partition, key)
    keyed = compacted.where(F.col("key").isNotNull())
    assert keyed.groupBy("topic", "partition", "key").count().where("count > 1").count() == 0
    # each kept record carries its key's max timestamp
    expected = (
        records.where(F.col("key").isNotNull())
        .groupBy("topic", "partition", "key")
        .agg(F.max("timestamp").alias("max_ts"))
    )
    joined = keyed.join(expected, ["topic", "partition", "key"])
    assert joined.where(F.col("timestamp") != F.col("max_ts")).count() == 0
    assert keyed.count() == expected.count()

    # NULL-key records pass through exactly, two identical ones included
    base = records.where(F.col("key").isNotNull()).orderBy("offset").limit(3)
    unkeyed = base.withColumn("key", F.lit(None).cast("binary"))
    with_nulls = records.unionByName(unkeyed).unionByName(unkeyed.limit(1))
    out = compact_latest_by_key(with_nulls).where(F.col("key").isNull())
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, with_nulls.where(F.col("key").isNull()).collect())
    )
    assert out.count() == records.where(F.col("key").isNull()).count() + 4

    # shape: one scan of the archive, and the map-side row limit before the
    # exchange (a pure `__rn == 1` filter keeps it)
    dest = str(tmp_path / "arch")
    write_guardian_format(with_nulls, dest, ChronoUnitSlice("HOURS"))
    compacted = compact_latest_by_key(restore_batch(spark, dest))
    plan = compacted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert any(
        "WindowGroupLimit" in line and line.rstrip().endswith("Partial")
        for line in plan.splitlines()
    )
    assert as_set(compacted) == as_set(compact_latest_by_key(with_nulls))


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(
    offsets=st.lists(st.integers(0, 10_000), min_size=0, max_size=30, unique=True),
    cutoff=st.integers(0, 10_000),
)
def test_prune_keys_straddle_invariants(offsets, cutoff):
    """R3 invariants for any slice layout and cutoff (RestoreClientInterface
    semantics): the kept keys are a suffix; every slice >= cutoff is kept;
    exactly min(1, #earlier) slices before the cutoff survive (the one that
    may straddle); empty input stays empty."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.core.timeslice import calculate_key
    from guardian_for_apache_kafka_spark.operators.restore import prune_keys_from_when

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    times = sorted(base + dt.timedelta(minutes=m) for m in offsets)
    keys = [calculate_key(t) for t in times]
    from_when = base + dt.timedelta(minutes=cutoff)

    kept = prune_keys_from_when(keys, from_when)

    if not keys:
        assert kept == []
        return
    # suffix property
    assert kept == keys[len(keys) - len(kept):]
    n_earlier_total = sum(1 for t in times if t < from_when)
    kept_times = times[len(keys) - len(kept):]
    # completeness: every slice >= cutoff survives pruning
    assert sum(1 for t in kept_times if t >= from_when) == len(times) - n_earlier_total
    # minimality: exactly one possibly-straddling earlier slice is kept
    assert sum(1 for t in kept_times if t < from_when) == min(1, n_earlier_total)


def test_compact_archive_slices_preserves_records(spark, tmp_path):
    """Small-file compaction: multi-batch archival leaves several files per
    slice; compaction rewrites to 1 file/slice with an identical record set
    and untouched slice layout."""
    import glob

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.maintenance import compact_archive_slices
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    dest = str(tmp_path / "archive")
    # three append passes -> >= 3 files per populated slice
    for i in range(3):
        chunk = records.where(F.col("offset") % 3 == i).repartition(2)
        backup_batch(chunk, dest, ChronoUnitSlice("DAYS"), fmt="json")

    before_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    some_slice = glob.glob(f"{dest}/slice=*")[0]
    assert len([f for f in os.listdir(some_slice) if not f.startswith(("_", "."))]) >= 3

    compacted = compact_archive_slices(spark, dest, files_per_slice=1)
    assert compacted
    for d in glob.glob(f"{dest}/slice=*"):
        files = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
        assert len(files) == 1
    after_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    assert after_set == before_set


def test_restore_edge_cases_empty_and_future_cutoff(spark, tmp_path):
    """Empty archive -> empty result; cutoff after all data -> only the
    straddling last slice is scanned and the record filter empties it.
    Nothing to read (an empty directory, or a committed archive whose
    snapshot retention emptied) still restores to the record schema, so
    compaction downstream runs on it."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.commitlog import (
        committed_backup,
        committed_retention,
    )
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    def assert_empty_records(df):
        assert df.schema == RECORD_SCHEMA
        assert compact_latest_by_key(df).count() == 0

    empty_dir = str(tmp_path / "empty")
    os.makedirs(empty_dir)
    assert restore_batch(spark, empty_dir, fmt="guardian").count() == 0
    assert_empty_records(restore_batch(spark, empty_dir, fmt="guardian"))

    records = normalize_events_to_records(load_table(spark, "/root/testdata/sf0.001", "events"))
    committed = str(tmp_path / "committed")
    committed_backup(records, committed, ChronoUnitSlice("DAYS"))
    committed_retention(committed, dt.datetime(2100, 1, 1, tzinfo=dt.timezone.utc))
    assert_empty_records(restore_batch(spark, committed, fmt="guardian", snapshot=True))

    archive = str(tmp_path / "archive")
    write_guardian_format(records, archive, ChronoUnitSlice("DAYS"))
    future = dt.datetime(2030, 1, 1)
    assert restore_batch(spark, archive, from_when=future, fmt="guardian").count() == 0
    # sanity: no cutoff returns everything
    assert restore_batch(spark, archive, fmt="guardian").count() == records.count()


def test_compact_archive_slices_preserves_gzip(spark, tmp_path):
    """Compaction of a gzip archive must rewrite gzip (codec detected from the
    part-file suffixes), not silently decompress it."""
    import glob

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.maintenance import compact_archive_slices
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    dest = str(tmp_path / "gz_archive")
    for i in range(3):
        chunk = records.where(F.col("offset") % 3 == i).repartition(2)
        backup_batch(chunk, dest, ChronoUnitSlice("DAYS"), compression="gzip", fmt="json")

    before_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    compacted = compact_archive_slices(spark, dest, files_per_slice=1)
    assert compacted
    for d in glob.glob(f"{dest}/slice=*"):
        files = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
        assert len(files) == 1
        assert files[0].endswith(".gz"), files
    after_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    assert after_set == before_set


def test_guardian_restore_from_file_uri(spark, tmp_path):
    """S4 via the storage API: guardian-format listing + restore must work on a
    Hadoop-FS URI (file:// here; same code path an s3a:// or gs:// root takes),
    not just bare local paths."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import (
        list_backup_keys,
        restore_batch,
    )
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 300)
    dest = str(tmp_path / "uri_archive")
    keys = write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    uri = f"file://{dest}"

    assert list_backup_keys(uri, spark) == keys
    restored = restore_batch(spark, uri, fmt="guardian")
    assert restored.count() == records.count()

    # from_when pruning works through the URI listing too
    cutoff = dt.datetime(2100, 1, 1, tzinfo=dt.timezone.utc)
    straddle = restore_batch(spark, uri, fmt="guardian", from_when=cutoff)
    assert straddle.count() == 0


def test_gzip_compression_level_reaches_codec(spark, tmp_path):
    """Reference Compression(type, level) parity: the level must reach the
    codec — a level-9 archive of the same slice is smaller than level-1, and
    both restore to the identical record set."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )

    def archive_size(level):
        dest = str(tmp_path / f"lvl{level}")
        keys = write_guardian_format(
            records, dest, ChronoUnitSlice("DAYS"),
            compression="gzip", compression_level=level,
        )
        assert keys and all(k.endswith(".json.gz") for k in keys)
        return dest, sum(
            os.path.getsize(os.path.join(dest, f)) for f in os.listdir(dest)
        )

    d1, size_fast = archive_size(1)
    d9, size_best = archive_size(9)
    assert size_best < size_fast
    a = {(r.topic, r.partition, r.offset) for r in restore_batch(spark, d1).collect()}
    b = {(r.topic, r.partition, r.offset) for r in restore_batch(spark, d9).collect()}
    assert a == b == {
        (r.topic, r.partition, r.offset) for r in records.collect()
    }


def test_json_restore_from_when_on_period_from_first_archive(spark, tmp_path):
    """End-to-end regression for the fraction-stripped key parse: a
    PeriodFromFirst JSON archive has millisecond slice directory names;
    from_when pruning + record filtering must work (previously raised
    TypeError comparing naive/aware datetimes)."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import PeriodFromFirst
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 400)
    dest = str(tmp_path / "pff_json")
    backup_batch(records, dest, PeriodFromFirst(dt.timedelta(minutes=30)), fmt="json")

    lo, hi = records.agg(F.min("timestamp"), F.max("timestamp")).first()
    cutoff = (lo + (hi - lo) / 2).replace(tzinfo=dt.timezone.utc)
    got = restore_batch(spark, dest, fmt="json", from_when=cutoff)
    want = records.where(F.col("timestamp") >= F.lit(cutoff))
    assert got.count() == want.count() > 0


def test_compact_archive_slices_via_file_uri(spark, tmp_path):
    """Maintenance via the storage API: compaction must work on a Hadoop-FS
    URI root (file:// here; same code path an s3a:// or gs:// root takes) —
    listing, staged rewrite, and the rename swap all through the
    destination's FileSystem, like list_backup_keys."""
    import glob

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.maintenance import compact_archive_slices
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    dest = str(tmp_path / "uri_maint")
    for i in range(3):
        chunk = records.where(F.col("offset") % 3 == i).repartition(2)
        backup_batch(chunk, dest, ChronoUnitSlice("DAYS"), fmt="json")

    before_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    compacted = compact_archive_slices(spark, f"file://{dest}", files_per_slice=1)
    assert compacted
    for d in glob.glob(f"{dest}/slice=*"):
        files = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
        assert len(files) == 1
    after_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    assert after_set == before_set

def test_describe_archive_inventory(spark, tmp_path):
    """describe: per-slice file/byte/record inventory reconciles with the
    archive contents, before and after compaction."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.maintenance import (
        compact_archive_slices,
        describe_archive,
    )
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    dest = str(tmp_path / "arch")
    for i in range(2):
        chunk = records.where(F.col("offset") % 2 == i).repartition(2)
        backup_batch(chunk, dest, ChronoUnitSlice("DAYS"), fmt="json")

    before = describe_archive(spark, dest).collect()
    assert sum(r.n_records for r in before) == records.count()
    assert all(r.n_files >= 2 and r.bytes > 0 for r in before)

    compact_archive_slices(spark, dest, files_per_slice=1)
    after = {r.slice: r for r in describe_archive(spark, dest).collect()}
    assert {r.slice for r in before} == set(after)
    for r in before:
        assert after[r.slice].n_files == 1
        assert after[r.slice].n_records == r.n_records

def test_compact_streaming_archive_with_sink_metadata(spark, tmp_path):
    """Compaction over an archive written by the STREAMING sink: the
    _spark_metadata log at the root references pre-compaction files, but the
    engine's read path lists slice directories directly, so the compacted
    archive must restore the identical record set."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.operators.maintenance import compact_archive_slices
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl
    from guardian_for_apache_kafka_spark.sources.tables import load_table
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        records_file_stream,
        stream_backup,
    )

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 400)
    src, dest, ckpt = str(tmp_path / "in"), str(tmp_path / "arch"), str(tmp_path / "ck")
    records.repartition(4).write.parquet(src)
    q = stream_backup(
        records_file_stream(spark, src, max_files_per_trigger=1), dest, ckpt
    )
    q.awaitTermination(120)
    assert os.path.isdir(os.path.join(dest, "_spark_metadata"))

    before = {
        (r.topic, r.partition, r.offset)
        for r in read_backup_jsonl(spark, dest).collect()
    }
    compacted = compact_archive_slices(spark, dest, files_per_slice=1, min_files=2)
    after = {
        (r.topic, r.partition, r.offset)
        for r in read_backup_jsonl(spark, dest).collect()
    }
    assert after == before
    # the sink metadata dir survives untouched (compaction never rewrites it)
    assert os.path.isdir(os.path.join(dest, "_spark_metadata"))

def test_scan_corrupt_files_flags_unparseable_objects(spark, tmp_path):
    """A corrupt guardian object is silently skipped by restore (from_json
    -> null; documented divergence from the reference's throwing parser) —
    scan_corrupt_files must flag exactly the bad file, and tolerate the
    legitimate zero-record shapes ([], [null]-terminated)."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import (
        restore_batch,
        scan_corrupt_files,
    )
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 200)
    dest = str(tmp_path / "arch")
    write_guardian_format(records, dest, ChronoUnitSlice("DAYS"))
    assert scan_corrupt_files(spark, dest).count() == 0  # clean archive

    # corrupt one object: truncate it mid-record
    victim = sorted(
        p for p in os.listdir(dest) if p.endswith(".json")
    )[0]
    vpath = os.path.join(dest, victim)
    content = open(vpath).read()
    open(vpath, "w").write(content[: len(content) // 2])

    bad = scan_corrupt_files(spark, dest).collect()
    assert len(bad) == 1 and bad[0].path.endswith(victim.replace(":", "%3A") if "%" in bad[0].path else victim)
    assert bad[0].parsed_records == 0 and bad[0].bytes > 8
    # and restore indeed silently drops that file's records (the divergence)
    assert restore_batch(spark, dest, fmt="guardian").count() < records.count()

def test_restore_and_corrupt_scan_read_glob_character_names(spark, tmp_path):
    """Object names holding glob syntax (``,``, ``{}``, ``[]``, ``*``) are
    valid slice keys; a restore and the corrupt scan open every listed
    object, each exactly, instead of reading its name as a pattern."""
    from urllib.parse import unquote

    from guardian_for_apache_kafka_spark.operators.restore import scan_corrupt_files

    dest = tmp_path / "arch"
    dest.mkdir()
    names = [
        "2024-03-01T05_00Z.[d].json",
        "2024-03-01T06_00Z.{a,b}.json",
        "2024-03-01T07_00Z.*.json",
        "2024-03-01T08_00Z.a,b.json",
        "2024-03-01T09_00Z.json",
    ]
    # decoy objects a pattern reading of the names above would also match
    decoys = ["2024-03-01T05_00Z.d.json", "2024-03-01T06_00Z.a.json", "2024-03-01T07_00Z.x.json"]
    for i, name in enumerate(names + decoys):
        ms = 1709269200000 + (i % len(names)) * 3600_000
        (dest / name).write_text(
            f'[{{"topic":"t{i}","partition":0,"offset":{i},"key":null,'
            f'"value":"YQ==","timestamp":{ms},"timestamp_type":0}}]'
        )
    keys = list_backup_keys(str(dest))
    assert len(keys) == len(names) + len(decoys)
    restored = restore_batch(spark, str(dest))
    assert sorted(r.offset for r in restored.collect()) == list(range(len(keys)))
    assert len(restored.inputFiles()) == len(keys)

    for name in names:  # truncate mid-record: every one must be flagged
        (dest / name).write_text((dest / name).read_text()[:40])
    bad = scan_corrupt_files(spark, str(dest)).collect()
    # paths come back as URIs: '[', '{' and friends percent-escaped
    assert sorted(unquote(r.path.rsplit("/", 1)[-1]) for r in bad) == sorted(names)


def test_frame_array_objects_chunked_bytes(monkeypatch):
    """An object written in several chunks has the bytes of one write of its
    whole framed payload: plain, and one ``mtime=0`` gzip member named after
    the physical object without ``.gz``, with and without the sentinel."""
    import datetime as _dt
    import io

    from guardian_for_apache_kafka_spark.core.timeslice import calculate_key
    from guardian_for_apache_kafka_spark.operators import backup

    monkeypatch.setattr(backup, "_CHUNK_CHARS", 64)
    t0 = _dt.datetime(2024, 3, 1, 5, tzinfo=UTC)
    rows = [
        {"slice": t0 + _dt.timedelta(hours=h), "topic": "t", "partition": 0, "offset": i,
         "json": f'{{"offset":{i},"pad":"{"x" * (i % 7)}"}}'}
        for h in range(2) for i in range(h * 40, h * 40 + 40)
    ]

    class Capture(io.BytesIO):
        def __init__(self):
            super().__init__()
            self.writes = 0

        def write(self, b):
            self.writes += 1
            return super().write(b)

        def close(self):
            self.value = self.getvalue()
            super().close()

    for compression in (None, "gzip"):
        for level in (1, 9):
            for interrupted in (False, True):
                opened = {}

                def open_object(key):
                    opened[key] = Capture()
                    return opened[key]

                last = calculate_key(rows[-1]["slice"], compression)
                stats = backup.frame_array_objects(
                    rows, open_object, compression, level,
                    interrupted_key=last if interrupted else None,
                )
                assert sorted(n for _, _, _, n, *_ in stats) == [40, 40]
                for h, (key, out) in enumerate(sorted(opened.items())):
                    tail = b",null]" if interrupted and key == last else b"]"
                    payload = b"[" + b",".join(
                        r["json"].encode() for r in rows[h * 40:(h + 1) * 40]
                    ) + tail
                    if compression is None:
                        assert out.writes > 3  # several chunks, then the tail
                        assert out.value == payload
                        continue
                    want = io.BytesIO()
                    with gzip.GzipFile(
                        filename=physical_name(key)[: -len(".gz")], fileobj=want,
                        mode="wb", compresslevel=level, mtime=0,
                    ) as gz:
                        gz.write(payload)
                    assert out.value == want.getvalue()


def test_write_guardian_format_runs_the_last_slice_job_only_when_interrupted(
    records, tmp_path, count_jobs
):
    """Only the interrupted sentinel needs ``max(slice)``: a plain write is
    the write's own two jobs (shuffle by slice, then the framing tasks)."""
    _, plain = count_jobs(
        lambda: write_guardian_format(records, str(tmp_path / "a"), ChronoUnitSlice("HOURS"))
    )
    _, interrupted = count_jobs(
        lambda: write_guardian_format(
            records, str(tmp_path / "b"), ChronoUnitSlice("HOURS"), interrupted=True
        )
    )
    assert plain == 2
    assert interrupted == 4
    assert sorted(os.listdir(tmp_path / "a")) == sorted(os.listdir(tmp_path / "b"))


def test_jsonl_corrupt_line_dropped_and_audit_catches_loss(spark, tmp_path):
    """A corrupt JSON-line must not surface as an all-null record row; the
    loss it represents stays loud through audit_archive (record missing vs
    the source)."""
    import glob

    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.restore import (
        audit_archive,
        read_backup_jsonl,
    )
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 100)
    dest = str(tmp_path / "arch")
    backup_batch(records, dest, ChronoUnitSlice("DAYS"), fmt="json")

    # corrupt ONE line in one part file (replace, keeping local-FS CRC valid
    # by removing the sidecar the original Hadoop write left behind)
    part = glob.glob(f"{dest}/slice=*/part-*.txt")[0]
    lines = open(part).read().splitlines()
    lines[0] = "{corrupt not json"
    open(part, "w").write("\n".join(lines) + "\n")
    for crc in glob.glob(os.path.join(os.path.dirname(part), ".*.crc")):
        os.remove(crc)

    out = read_backup_jsonl(spark, dest)
    assert out.where(F.col("topic").isNull()).count() == 0  # no garbage rows
    assert out.count() == records.count() - 1               # the line is gone
    missing = audit_archive(spark, records, dest, fmt="json")
    assert missing.count() == 1                             # and loudly so


def test_describe_archive_millisecond_slices(spark, tmp_path):
    """ADVICE r4: PeriodFromFirst archives carry millisecond slice directory
    names; describe_archive's metadata/record join must reconcile them (the
    old seconds-only string join reported n_records=0 for every slice)."""
    from guardian_for_apache_kafka_spark.operators.maintenance import describe_archive

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 200)
    anchor = records.agg(F.min(F.unix_micros("timestamp"))).first()[0]
    # a non-whole-second anchor forces .SSS directory names
    anchor += 123_000
    dest = str(tmp_path / "ms_arch")
    backup_batch(records, dest, PeriodFromFirst(dt.timedelta(hours=6)), fmt="json", anchor_us=anchor)
    rows = describe_archive(spark, dest).collect()
    assert rows
    assert any("." in r.slice for r in rows), [r.slice for r in rows]  # ms names
    assert sum(r.n_records for r in rows) == records.count()
    assert all(r.n_records > 0 for r in rows)


def test_describe_archive_instances(spark, tmp_path):
    """Multi-writer (instance-id) archive: single-root describe raises with a
    hint; instances=True reconciles every (instance, slice) pair."""
    from guardian_for_apache_kafka_spark.operators.maintenance import describe_archive

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 200)
    dest = str(tmp_path / "multi")
    backup_batch(records.where(F.col("offset") % 2 == 0), f"{dest}/i0", ChronoUnitSlice("DAYS"), fmt="json")
    backup_batch(records.where(F.col("offset") % 2 == 1), f"{dest}/i1", ChronoUnitSlice("DAYS"), fmt="json")

    with pytest.raises(ValueError, match="instances=True"):
        describe_archive(spark, dest)
    rows = describe_archive(spark, dest, instances=True).collect()
    assert {r.instance for r in rows} == {"i0", "i1"}
    assert sum(r.n_records for r in rows) == records.count()
    assert all(r.n_records > 0 for r in rows)


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    """Crash-window debris (module docstring): a slice left under _old_<slice>
    (rename-aside happened, install did not) is renamed back on the next run;
    a stale _compacting staging tree and a superseded _old_ copy next to a
    live slice are both removed. Record set is exactly preserved throughout."""
    import glob
    import shutil

    from guardian_for_apache_kafka_spark.operators.maintenance import compact_archive_slices
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    dest = str(tmp_path / "crashy")
    for i in range(3):
        chunk = records.where(F.col("offset") % 3 == i).repartition(2)
        backup_batch(chunk, dest, ChronoUnitSlice("DAYS"), fmt="json")
    before_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    slices = sorted(glob.glob(f"{dest}/slice=*"))
    assert len(slices) >= 2
    # crash between the two renames: slice 0 exists only as _old_
    victim = slices[0]
    victim_name = os.path.basename(victim)
    os.rename(victim, f"{dest}/_old_{victim_name}")
    # crash after install: slice 1 has a superseded _old_ copy next to it
    survivor_name = os.path.basename(slices[1])
    shutil.copytree(slices[1], f"{dest}/_old_{survivor_name}")
    # stale staging tree
    os.makedirs(f"{dest}/_compacting/{victim_name}", exist_ok=True)

    compacted = compact_archive_slices(spark, dest, files_per_slice=1)
    assert compacted  # recovery happened AND compaction proceeded
    assert os.path.isdir(victim)                       # rollback completed
    assert not glob.glob(f"{dest}/_old_*")             # debris gone
    assert not os.path.exists(f"{dest}/_compacting")
    after_set = {
        (r.topic, r.partition, r.offset) for r in read_backup_jsonl(spark, dest).collect()
    }
    assert after_set == before_set


def test_write_guardian_format_via_file_uri(spark, tmp_path):
    """VERDICT r4 gap 3: the byte-exact guardian writer must reach
    object-store destinations. file:// exercises the same pyarrow.fs URI
    branch executors use for s3://gs://; plain and gzip flavors round-trip
    through the (Hadoop-FS-listing) restore path identically to a bare-path
    write."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch

    records = normalize_events_to_records(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).where(F.col("offset") < 300)
    for comp in (None, "gzip"):
        local = str(tmp_path / f"plain_{comp}")
        via_uri = str(tmp_path / f"uri_{comp}")
        keys_local = write_guardian_format(records, local, ChronoUnitSlice("DAYS"), compression=comp)
        keys_uri = write_guardian_format(
            records, f"file://{via_uri}", ChronoUnitSlice("DAYS"), compression=comp
        )
        assert keys_uri == keys_local
        assert sorted(os.listdir(via_uri)) == [
            f for f in sorted(os.listdir(local)) if not f.startswith(".")
        ]
        got = {
            (r.topic, r.partition, r.offset)
            for r in restore_batch(spark, via_uri, fmt="guardian").collect()
        }
        want = {(r.topic, r.partition, r.offset) for r in records.collect()}
        assert got == want


def test_describe_archive_guardian_format(spark, sf_dir, tmp_path):
    """describe works on the byte-exact guardian-format layout too (flat
    time-keyed JSON-array objects): one row per object, record counts from
    the whole-file parse. Previously this layout returned silently empty
    (caught by the round-5 CLI smoke)."""
    from guardian_for_apache_kafka_spark.core import normalize_events_to_records
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.maintenance import describe_archive
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").where("event_id < 120")
    records = normalize_events_to_records(ev)
    dest = str(tmp_path / "garchive")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    rows = describe_archive(spark, dest).collect()
    assert rows and all(r.n_files == 1 and r.bytes > 0 for r in rows)
    assert sum(r.n_records for r in rows) == records.count()
    assert all(r.slice.endswith(".json") for r in rows)


def test_describe_archive_not_an_archive_raises(spark, tmp_path):
    import pytest

    from guardian_for_apache_kafka_spark.operators.maintenance import describe_archive

    d = tmp_path / "junk"
    d.mkdir()
    (d / "data.txt").write_text("nope")
    with pytest.raises(ValueError, match="neither"):
        describe_archive(spark, str(d))


def test_forget_keys_erases_only_target_keys_byte_exact(spark, records, tmp_path):
    """GDPR erasure: after forget_keys, no record with a forgotten key
    remains anywhere in the archive; every OTHER record's line bytes are
    untouched (verbatim survivor copy); only slices that contained the key
    were rewritten; a second call is a no-op."""
    import base64
    import glob

    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.maintenance import forget_keys
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl

    dest = str(tmp_path / "archive")
    backup_batch(records, dest, ChronoUnitSlice("DAYS"), fmt="json")

    # pick two real keys; note which slices contain them and snapshot the
    # full line set per slice
    target = [bytes(r.key) for r in records.select("key").distinct().limit(2).collect()]
    b64 = {base64.b64encode(k).decode() for k in target}
    lines_before = {}
    for d in glob.glob(f"{dest}/slice=*"):
        lines_before[os.path.basename(d)] = {
            ln
            for f in glob.glob(f"{d}/part-*")
            for ln in open(f, encoding="utf-8").read().splitlines()
        }
    import urllib.parse as _url

    affected_expect = sorted(
        _url.unquote(base[len("slice="):])
        for base, lines in lines_before.items()
        if any(f'"key":"{b}"' in ln for b in b64 for ln in lines)
    )

    affected = forget_keys(spark, dest, target)
    assert affected, "expected at least one rewritten slice"
    # exact logical-slice set: the physical dir names URL-decode to the
    # values forget_keys reports (a naming mismatch must FAIL, not shortcut
    # to a length comparison)
    assert sorted(affected) == affected_expect

    back = read_backup_jsonl(spark, dest)
    keys_left = {bytes(r.key) for r in back.select("key").where(F.col("key").isNotNull()).collect()}
    assert not (set(target) & keys_left)
    # record set = original minus the forgotten keys, nothing else
    survivors_want = {
        (r.topic, r.partition, r.offset)
        for r in records.where(~F.col("key").isin(target)).collect()
    }
    survivors_got = {(r.topic, r.partition, r.offset) for r in back.collect()}
    assert survivors_got == survivors_want

    # byte-exactness: surviving lines are the original lines verbatim
    for d in glob.glob(f"{dest}/slice=*"):
        base = os.path.basename(d)
        now = {
            ln
            for f in glob.glob(f"{d}/part-*")
            for ln in open(f, encoding="utf-8").read().splitlines()
        }
        expect = {
            ln
            for ln in lines_before[base]
            if not any(f'"key":"{b}"' in ln for b in b64)
        }
        assert now == expect, base

    # idempotent: nothing left to forget
    assert forget_keys(spark, dest, target) == []


def test_forget_keys_gzip_and_empty_slice(spark, records, tmp_path):
    """Erasure on a gzip archive rewrites gzip; a slice whose every record
    matched a forgotten key is DELETED outright (an empty slice= dir would
    break partition discovery), and untouched slices' keys all survive."""
    import glob

    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.maintenance import forget_keys
    from guardian_for_apache_kafka_spark.operators.restore import read_backup_jsonl

    dest = str(tmp_path / "archive")
    backup_batch(records, dest, ChronoUnitSlice("HOURS"), compression="gzip", fmt="json")
    slices = sorted(glob.glob(f"{dest}/slice=*"))
    assert len(slices) > 2
    victim = slices[0]
    all_keys = {
        bytes(r.key)
        for r in read_backup_jsonl(spark, dest)
        .where(F.col("key").isNotNull())
        .collect()
    }
    # forget every key that appears in the first slice
    import base64 as _b
    import gzip as _gz
    import json as _json

    first_slice_keys = set()
    for f in glob.glob(f"{victim}/part-*"):
        opener = _gz.open if f.endswith(".gz") else open
        with opener(f, "rt", encoding="utf-8") as fh:
            for ln in fh:
                k = _json.loads(ln)["key"]
                if k is not None:
                    first_slice_keys.add(_b.b64decode(k))
    assert first_slice_keys
    affected = forget_keys(spark, dest, sorted(first_slice_keys))
    assert affected
    # gzip flavor preserved on rewritten, non-empty slices
    for d in glob.glob(f"{dest}/slice=*"):
        files = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
        assert all(f.endswith(".gz") for f in files)
    # a slice whose every record matched is DELETED (an empty slice= dir
    # would break partition discovery); every key OUTSIDE the forgotten set
    # survives exactly
    back = read_backup_jsonl(spark, dest)
    left = {bytes(r.key) for r in back.where(F.col("key").isNotNull()).collect()}
    assert left == all_keys - first_slice_keys
    assert not os.path.isdir(victim)


def test_forget_keys_rejects_unsupported_layouts(spark, records, tmp_path):
    """A GDPR erasure against a layout forget_keys cannot parse must FAIL
    LOUDLY, never report success having matched nothing: parquet archives
    and guardian-format (no slice= dirs) archives both raise."""
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.maintenance import forget_keys

    pq = str(tmp_path / "parquet_archive")
    backup_batch(records, pq, ChronoUnitSlice("DAYS"), fmt="parquet")
    with pytest.raises(ValueError, match="parquet archive"):
        forget_keys(spark, pq, [b"x"])

    empty = str(tmp_path / "not_an_archive")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no slice= directories"):
        forget_keys(spark, empty, [b"x"])


def test_backup_orc_round_trip(spark, records, tmp_path):
    """ORC archival (the second Spark-native columnar container): the
    slice-partitioned ORC archive round-trips the record set exactly and
    keeps the slice layout for pruning."""
    import glob

    from guardian_for_apache_kafka_spark.operators.backup import backup_batch

    dest = str(tmp_path / "orc_archive")
    backup_batch(records, dest, ChronoUnitSlice("HOURS"), fmt="orc")
    assert glob.glob(f"{dest}/slice=*/*.orc")
    back = spark.read.orc(dest)
    assert as_set(back.drop("slice")) == as_set(records)
    # slice partition column survives for pruning
    assert back.select("slice").distinct().count() > 1


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_restore_columnar_formats_with_from_when(spark, records, tmp_path, fmt):
    """Columnar archives restore through the same record-exact from_when /
    topic filters as the other layouts, with slice-level pruning on the
    partition column."""
    from guardian_for_apache_kafka_spark.operators.backup import backup_batch
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch

    dest = str(tmp_path / f"{fmt}_archive")
    backup_batch(records, dest, ChronoUnitSlice("HOURS"), fmt=fmt)

    full = restore_batch(spark, dest, fmt=fmt)
    assert as_set(full) == as_set(records)

    cut_row = records.selectExpr(
        "percentile(unix_micros(timestamp), 0.5D) AS p"
    ).collect()[0]
    cut = dt.datetime.fromtimestamp(int(cut_row.p) / 1e6, dt.timezone.utc).replace(
        tzinfo=None
    )
    part = restore_batch(spark, dest, fmt=fmt, from_when=cut, topics={"click"})
    want = records.where(
        (F.col("timestamp") >= F.lit(cut)) & (F.col("topic") == "click")
    )
    assert as_set(part) == as_set(want)
    assert part.count() > 0


def test_guardian_python_datasource(spark, records, tmp_path):
    """spark.read.format('guardian') — the Spark-4 Python DataSource over
    reference-format archives: full parity with the JVM restore path,
    planning-time fromWhen slice pruning (partition count shrinks), and
    topic filter pushdown consumed inside the reader."""
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        GuardianReader,
        register_guardian_datasource,
    )
    from pyspark.sql.datasource import EqualTo, GreaterThan

    dest = str(tmp_path / "arch")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"), compression="gzip")
    register_guardian_datasource(spark)

    via_ds = spark.read.format("guardian").load(dest)
    assert as_set(via_ds) == as_set(restore_batch(spark, dest, fmt="guardian"))

    # planning-time pruning: fromWhen cuts the partition (object) count
    reader_all = GuardianReader({"path": dest})
    cut = records.selectExpr("percentile(unix_micros(timestamp), 0.5D) p").collect()[0]
    asof = dt.datetime.fromtimestamp(int(cut.p) / 1e6, dt.timezone.utc)
    reader_cut = GuardianReader({"path": dest, "fromwhen": asof.isoformat()})
    assert 0 < len(reader_cut.partitions()) < len(reader_all.partitions())

    # record-exact fromWhen behavior matches restore_batch (the straddle
    # slice is included; Spark applies the residual timestamp filter)
    via_cut = (
        spark.read.format("guardian")
        .option("fromWhen", asof.isoformat())
        .load(dest)
        .where(F.col("timestamp") >= F.lit(asof.replace(tzinfo=None)))
    )
    want = restore_batch(spark, dest, fmt="guardian", from_when=asof)
    assert as_set(via_cut) == as_set(want)

    # pushdown unit contract: topic EqualTo consumed, others returned
    r = GuardianReader({"path": dest})
    leftover = list(r.pushFilters([EqualTo(("topic",), "click"), GreaterThan(("offset",), 5)]))
    assert r.topics == {"click"} and len(leftover) == 1
    # and the engine-level behavior: filtered read equals filtered restore
    clicks = spark.read.format("guardian").load(dest).where("topic = 'click'")
    want_clicks = restore_batch(spark, dest, fmt="guardian", topics={"click"})
    assert as_set(clicks) == as_set(want_clicks)


def test_guardian_streaming_datasource(spark, records, tmp_path):
    """readStream.format('guardian'): a finite replay over the archive's
    object list equals the batch restore, and a RESTART from the same
    checkpoint reads ONLY objects that appeared since (offset = consumed
    object count; new slices sort after consumed ones)."""
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    dest = str(tmp_path / "arch")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # split on an HOUR boundary so the second write creates strictly NEW
    # slice objects (a rewrite of an existing slice is out of the streaming
    # source's immutable-object contract)
    cut_hour = records.selectExpr(
        "percentile(unix_micros(date_trunc('hour', timestamp)), 0.5D) AS p"
    ).collect()[0].p
    cut = dt.datetime.fromtimestamp(int(cut_hour) / 1e6, dt.timezone.utc).replace(
        tzinfo=None, minute=0, second=0, microsecond=0
    )  # floor to the hour: an even row count interpolates the median
    # between two hour values, and a mid-hour cut would break the
    # immutable-slice premise the second write relies on
    first = records.where(F.col("timestamp") < F.lit(cut))
    second = records.where(F.col("timestamp") >= F.lit(cut))
    assert first.count() > 0 and second.count() > 0
    write_guardian_format(first, dest, ChronoUnitSlice("HOURS"))
    register_guardian_datasource(spark)

    def run():
        stream = spark.readStream.format("guardian").load(dest)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    got1 = as_set(spark.read.parquet(out))
    assert got1 == as_set(restore_batch(spark, dest, fmt="guardian"))

    # new slices arrive; the resumed stream reads only them (records from
    # already-consumed objects would double-count in the append sink)
    write_guardian_format(second, dest, ChronoUnitSlice("HOURS"))
    run()
    got2 = as_set(spark.read.parquet(out))
    assert got2 == as_set(restore_batch(spark, dest, fmt="guardian"))
    assert len(got2) > len(got1)


def test_guardian_streaming_datasource_from_when(spark, records, tmp_path):
    """readStream.format('guardian') with fromWhen starts behind the pruned
    prefix: an availableNow replay equals the batch DataSource read with the
    same option (straddle slice included, no record filter on either)."""
    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    dest = str(tmp_path / "arch")
    out = str(tmp_path / "out")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    register_guardian_datasource(spark)
    mid = records.selectExpr("percentile(unix_micros(timestamp), 0.5D) p").collect()[0].p
    cut = dt.datetime.fromtimestamp(int(mid) / 1e6, dt.timezone.utc).isoformat()

    q = (
        spark.readStream.format("guardian").option("fromWhen", cut).load(dest)
        .writeStream.foreachBatch(lambda df, _: df.write.mode("append").parquet(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = as_set(spark.read.parquet(out))
    want = as_set(spark.read.format("guardian").option("fromWhen", cut).load(dest))
    assert got == want
    assert 0 < len(got) < records.count()


def test_guardian_datasource_filter_conjunction_and_corrupt_skip(spark, records, tmp_path):
    """pushFilters conjunction semantics: successive topic predicates
    INTERSECT (In uses the dataclass's `value` field); a truncated object
    (no null] sentinel) is silently skipped — matching the JVM restore
    path — while check/scan stays the loudness channel."""
    from pyspark.sql.datasource import EqualTo, In

    from guardian_for_apache_kafka_spark.operators.backup import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        GuardianReader,
        register_guardian_datasource,
    )

    r = GuardianReader({"path": "x"})
    leftover = list(
        r.pushFilters([In(("topic",), ("a", "b")), In(("topic",), ("b", "c"))])
    )
    assert r.topics == {"b"} and leftover == []
    r2 = GuardianReader({"path": "x"})
    list(r2.pushFilters([In(("topic",), ("a", "b")), EqualTo(("topic",), "c")]))
    assert r2.topics == set()  # contradictory conjunction -> empty result

    dest = str(tmp_path / "arch")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    register_guardian_datasource(spark)
    # truncate one object mid-array (crash without sentinel)
    victim = next(
        os.path.join(dest, f) for f in sorted(os.listdir(dest)) if f.endswith(".json")
    )
    blob = open(victim, encoding="utf-8").read()
    open(victim, "w", encoding="utf-8").write(blob[: len(blob) // 2].rstrip(",]"))
    via_ds = spark.read.format("guardian").load(dest)
    want = restore_batch(spark, dest, fmt="guardian")
    assert as_set(via_ds) == as_set(want)  # both paths skip the damaged object
    assert via_ds.count() < records.count()


def test_archive_manifest_verifies_and_detects_tampering(spark, records, tmp_path):
    """g10's fixity chain end-to-end: a freshly-written archive verifies on
    every slice; altering ONE record's payload byte in ONE object flips
    verified=false for exactly that slice (count unchanged — only the
    content checksum catches it); deleting an object surfaces the slice
    with verified=false rather than dropping it from the report."""
    from guardian_for_apache_kafka_spark.operators.maintenance import (
        archive_manifest,
        verify_archive,
    )

    dest = str(tmp_path / "arch")
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    write_guardian_format(recs, dest, ChronoUnitSlice("HOURS"))
    cfg = ChronoUnitSlice("HOURS")

    ok = verify_archive(spark, dest, recs, cfg).collect()
    assert ok and all(r.verified for r in ok)
    n_slices = len(ok)

    # tamper: flip one digit inside one record's value payload
    victim = next(
        os.path.join(dest, f) for f in sorted(os.listdir(dest)) if f.endswith(".json")
    )
    blob = open(victim, encoding="utf-8").read()
    i = blob.index('"value"')
    j = blob.index(":", i) + 3
    tampered = blob[:j] + ("B" if blob[j] != "B" else "C") + blob[j + 1 :]
    open(victim, "w", encoding="utf-8").write(tampered)

    after = verify_archive(spark, dest, recs, cfg).collect()
    bad = [r for r in after if not r.verified]
    assert len(after) == n_slices and len(bad) == 1
    good_counts = {r.slice: r.n_records for r in ok}
    assert bad[0].n_records == good_counts[bad[0].slice]  # count alone misses it

    # delete a different object: its slice must SURFACE as unverified
    manifest = {r.slice for r in archive_manifest(spark, dest).collect()}
    other = next(
        os.path.join(dest, f)
        for f in sorted(os.listdir(dest))
        if f.endswith(".json") and os.path.join(dest, f) != victim
    )
    os.remove(other)
    final = verify_archive(spark, dest, recs, cfg).collect()
    assert len(final) == n_slices
    assert sum(1 for r in final if not r.verified) == 2


def test_guardian_datasource_writer_byte_parity(spark, records, tmp_path):
    """df.write.format('guardian') produces the BYTE-EXACT reference archive
    write_guardian_format writes (same object names, same bytes), for both
    plain and gzip framing — single-part fast path (input pre-partitioned
    by slice) and the multi-part merge path (round-robin input, slices
    spanning tasks) alike."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import with_slice
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    ref = str(tmp_path / "ref")
    write_guardian_format(recs, ref, ChronoUnitSlice("HOURS"))

    def read_all(d):
        return {
            f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))
        }

    want = read_all(ref)

    # fast path: pre-partitioned by slice -> commit is rename-only
    pre = with_slice(recs, ChronoUnitSlice("HOURS"), None).repartition("slice").drop("slice")
    fast = str(tmp_path / "fast")
    pre.write.format("guardian").option("chronoUnitSlice", "hours").mode("append").save(fast)
    assert read_all(fast) == want

    # merge path: round-robin partitions make every slice span tasks
    merge = str(tmp_path / "merge")
    recs.repartition(8).write.format("guardian").option(
        "chronoUnitSlice", "hours"
    ).mode("append").save(merge)
    assert read_all(merge) == want

    # gzip framing parity (deterministic mtime=0 members)
    refz = str(tmp_path / "refz")
    write_guardian_format(recs, refz, ChronoUnitSlice("HOURS"), compression="gzip")
    dz = str(tmp_path / "dz")
    recs.write.format("guardian").option("chronoUnitSlice", "hours").option(
        "compression", "gzip"
    ).mode("append").save(dz)
    assert read_all(dz) == read_all(refz)

    # append into a populated archive must refuse loudly...
    with pytest.raises(Exception, match="already exist"):
        recs.write.format("guardian").option("chronoUnitSlice", "hours").mode(
            "append"
        ).save(fast)
    # ...while overwrite replaces and stays byte-identical
    recs.write.format("guardian").option("chronoUnitSlice", "hours").mode(
        "overwrite"
    ).save(fast)
    assert read_all(fast) == want


def test_guardian_datasource_writer_file_uri_scheme(spark, records, tmp_path):
    """The writer's pyarrow-FS branch (scheme:// destinations): writing to a
    file:// URI produces the same bytes as the bare-path write — staging,
    rename-commit, and cleanup all through FileSystem.from_uri, the exact
    code path an object-store URI takes."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    ref = str(tmp_path / "ref")
    write_guardian_format(recs, ref, ChronoUnitSlice("HOURS"))

    uri_dir = tmp_path / "uri"
    uri_dir.mkdir()
    recs.repartition(4).write.format("guardian").option(
        "chronoUnitSlice", "hours"
    ).mode("append").save(f"file://{uri_dir}")

    want = {f: open(os.path.join(ref, f), "rb").read() for f in sorted(os.listdir(ref))}
    got = {f: open(os.path.join(str(uri_dir), f), "rb").read()
           for f in sorted(os.listdir(str(uri_dir)))}
    assert got == want
    # staging dir cleaned up
    assert not [f for f in os.listdir(str(uri_dir)) if f.startswith("_guardian_staging")]

    # gzip: a pyarrow output stream has no .name, so the FNAME member header
    # must come from the object name, not the stream — both writers, through
    # file://, write the bare-path reference bytes
    refz = str(tmp_path / "refz")
    write_guardian_format(recs, refz, ChronoUnitSlice("HOURS"), compression="gzip")
    wantz = {f: open(os.path.join(refz, f), "rb").read() for f in sorted(os.listdir(refz))}
    bulk_dir, ds_dir = tmp_path / "uri_bulkz", tmp_path / "uri_dsz"
    ds_dir.mkdir()
    write_guardian_format(
        recs, f"file://{bulk_dir}", ChronoUnitSlice("HOURS"), compression="gzip"
    )
    recs.repartition(4).write.format("guardian").option(
        "chronoUnitSlice", "hours"
    ).option("compression", "gzip").mode("append").save(f"file://{ds_dir}")
    for d in (bulk_dir, ds_dir):
        got = {f: open(os.path.join(str(d), f), "rb").read() for f in sorted(os.listdir(str(d)))}
        assert got == wantz, d


def test_archive_manifest_empty_archive(spark, records, tmp_path):
    """An empty archive yields an empty manifest (not a reader error), and
    verify/diff against it classify every slice as unverified / missing."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.maintenance import (
        archive_diff,
        archive_manifest,
        verify_archive,
    )

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert archive_manifest(spark, empty).count() == 0

    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    ver = verify_archive(spark, empty, recs, ChronoUnitSlice("HOURS")).collect()
    assert ver and all(not r.verified for r in ver)

    full = str(tmp_path / "full")
    write_guardian_format(recs, full, ChronoUnitSlice("HOURS"))
    d = archive_diff(spark, full, empty).collect()
    assert d and all(r.status == "missing_b" for r in d)


def test_guardian_datasource_writer_schema_order_and_empty(spark, records, tmp_path):
    """Review-r6 regressions: (1) a column-REORDERED input writes the same
    archive as the canonical order (fields resolved by name, never by
    position — key/value are both binary and would swap silently), (2) an
    empty write to a fresh destination commits an empty archive instead of
    crashing the listing, (3) a missing record column fails loudly at plan
    time with the offending names."""
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    ref = str(tmp_path / "ref")
    write_guardian_format(recs, ref, ChronoUnitSlice("HOURS"))

    shuffled = recs.select(
        "value", "timestamp_type", "topic", "offset", "key", "timestamp", "partition"
    )
    dest = str(tmp_path / "reordered")
    shuffled.write.format("guardian").option("chronoUnitSlice", "hours").mode(
        "append"
    ).save(dest)
    want = {f: open(os.path.join(ref, f), "rb").read() for f in sorted(os.listdir(ref))}
    got = {f: open(os.path.join(dest, f), "rb").read() for f in sorted(os.listdir(dest))}
    assert got == want

    empty_dest = str(tmp_path / "fresh" / "empty")  # parent doesn't exist either
    spark.createDataFrame([], RECORD_SCHEMA).write.format("guardian").mode(
        "append"
    ).save(empty_dest)
    assert os.path.isdir(empty_dest) and os.listdir(empty_dest) == []

    with pytest.raises(Exception, match="missing from input schema"):
        recs.drop("key").write.format("guardian").mode("append").save(
            str(tmp_path / "nope")
        )


def test_guardian_datasource_writer_pre_epoch_timestamps(spark, tmp_path):
    """ADVICE r6: epoch-millis must FLOOR for pre-1970 timestamps —
    1969-12-31T23:59:59.999Z is -1 ms, not +999 (the old int(timestamp())*
    1000 + us//1000 truncated toward zero on the seconds while adding a
    non-negative millis part). Round-trip through the DataSource writer and
    assert the wire millis and the (floored) slice key both come out on the
    1969 side."""
    import datetime as dt
    import json

    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.operators.restore import restore_batch
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    rows = [
        ("t", 0, 1, None, b"v1", dt.datetime(1969, 12, 31, 23, 59, 59, 999000), 0),
        ("t", 0, 2, None, b"v2", dt.datetime(1970, 1, 1, 0, 0, 0, 1000), 0),
    ]
    df = spark.createDataFrame(rows, RECORD_SCHEMA)
    dest = str(tmp_path / "pre_epoch")
    df.write.format("guardian").option("chronoUnitSlice", "hours").mode("append").save(dest)
    keys = sorted(os.listdir(dest))
    # floored hourly slices: 1969-12-31T23:00 and 1970-01-01T00:00
    assert any(k.startswith("1969-12-31T23") for k in keys), keys
    assert any(k.startswith("1970-01-01T00") for k in keys), keys
    wire = {}
    for k in keys:
        for rec in json.loads(open(os.path.join(dest, k), "rb").read()):
            wire[rec["offset"]] = rec["timestamp"]
    assert wire == {1: -1, 2: 1}
    got = {
        (r.offset, r.timestamp)
        for r in restore_batch(spark, dest, fmt="guardian").collect()
    }
    assert got == {
        (1, dt.datetime(1969, 12, 31, 23, 59, 59, 999000)),
        (2, dt.datetime(1970, 1, 1, 0, 0, 0, 1000)),
    }


def test_guardian_datasource_overwrite_removes_stale_slices(spark, records, tmp_path):
    """mode('overwrite') replaces the archive: slices not present in the
    new write are deleted (after the new objects land — the delete-then-move
    per-slice ordering), and the surviving content equals a fresh write."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    dest = str(tmp_path / "shrink")
    recs.write.format("guardian").option("chronoUnitSlice", "hours").mode("append").save(dest)
    n_full = len(os.listdir(dest))
    sub = recs.orderBy("timestamp").limit(20)
    sub.write.format("guardian").option("chronoUnitSlice", "hours").mode("overwrite").save(dest)
    ref = str(tmp_path / "shrink_ref")
    write_guardian_format(sub, ref, ChronoUnitSlice("HOURS"))
    want = {f: open(os.path.join(ref, f), "rb").read() for f in sorted(os.listdir(ref))}
    got = {f: open(os.path.join(dest, f), "rb").read() for f in sorted(os.listdir(dest))}
    assert got == want
    assert len(got) < n_full  # the stale tail really was removed


def test_guardian_datasource_writer_multipart_gzip_parity(spark, records, tmp_path):
    """The merge path COMBINED with gzip framing: round-robin input makes
    every slice span tasks, commit merge-sorts and then gzips — bytes must
    still equal the bulk writer's (FNAME header included)."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    ref = str(tmp_path / "refz")
    write_guardian_format(recs, ref, ChronoUnitSlice("HOURS"), compression="gzip")
    dest = str(tmp_path / "dz")
    recs.repartition(8).write.format("guardian").option(
        "chronoUnitSlice", "hours"
    ).option("compression", "gzip").mode("append").save(dest)
    want = {f: open(os.path.join(ref, f), "rb").read() for f in sorted(os.listdir(ref))}
    got = {f: open(os.path.join(dest, f), "rb").read() for f in sorted(os.listdir(dest))}
    assert got == want


def test_guardian_datasource_writer_gzip_slice_partitioned_commit_is_rename_only(
    spark, records, tmp_path, monkeypatch
):
    """Slice-partitioned input with gzip: every task stages finished gzip
    objects, so commit only renames — it reads no staged bytes — and the
    archive still equals write_guardian_format's bytes. The commit is driven
    in-process (the registered DataSource commit runs in a separate Python
    worker, out of monkeypatch reach)."""
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.operators.backup import with_slice
    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    gs.register_guardian_datasource(spark)
    recs = records.select(*[f.name for f in RECORD_SCHEMA.fields])
    ref = str(tmp_path / "refz")
    write_guardian_format(recs, ref, ChronoUnitSlice("HOURS"), compression="gzip")
    want = {f: open(os.path.join(ref, f), "rb").read() for f in sorted(os.listdir(ref))}

    pre = with_slice(recs, ChronoUnitSlice("HOURS")).repartition("slice").drop("slice")
    dest = str(tmp_path / "ds")
    pre.write.format("guardian").option("chronoUnitSlice", "hours").option(
        "compression", "gzip"
    ).mode("append").save(dest)
    assert {f: open(os.path.join(dest, f), "rb").read() for f in sorted(os.listdir(dest))} == want

    reads = []
    real_fs_ops = gs._fs_ops

    def spying_fs_ops(path):
        write_bytes, read_bytes, move, delete, rmdir = real_fs_ops(path)

        def read_spy(rel):
            reads.append(rel)
            return read_bytes(rel)

        return write_bytes, read_spy, move, delete, rmdir

    monkeypatch.setattr(gs, "_fs_ops", spying_fs_ops)
    dest2 = str(tmp_path / "in_process")
    w = gs.GuardianWriter(
        {"path": dest2, "chronounitslice": "hours", "compression": "gzip"}, False, RECORD_SCHEMA
    )
    msgs = [w.write(iter(part)) for part in pre.rdd.glom().collect()]
    w.commit(msgs)
    assert reads == []
    assert {f: open(os.path.join(dest2, f), "rb").read() for f in sorted(os.listdir(dest2))} == want


def test_guardian_datasource_writers_validate_gzip_level(spark, records, tmp_path):
    """compressionLevel is checked (1-9) when either writer is built, before
    any task stages a byte, and the stream writer honours it: a level-1 part
    is exactly gzip.compress(payload, 1, mtime=0)."""
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    gs.register_guardian_datasource(spark)
    for level in ("0", "10"):
        dest = str(tmp_path / f"lvl{level}")
        with pytest.raises(Exception, match="gzip level must be 1-9"):
            records.write.format("guardian").option("compression", "gzip").option(
                "compressionLevel", level
            ).mode("append").save(dest)
        assert not os.path.exists(dest)  # no task staged anything
        opts = {"path": dest, "compression": "gzip", "compressionlevel": level}
        with pytest.raises(ValueError, match="gzip level must be 1-9"):
            gs.GuardianWriter(opts, False, RECORD_SCHEMA)
        with pytest.raises(ValueError, match="gzip level must be 1-9"):
            gs.GuardianStreamWriter(opts, RECORD_SCHEMA)

    dest = str(tmp_path / "stream1")
    w = gs.GuardianStreamWriter(
        {"path": dest, "chronounitslice": "hours", "compression": "gzip", "compressionlevel": "1"},
        RECORD_SCHEMA,
    )
    rows = records.select(*[f.name for f in RECORD_SCHEMA.fields]).collect()
    msg = w.write(iter(rows))
    assert msg.parts
    for _slice, rel in msg.parts:
        blob = open(os.path.join(dest, rel), "rb").read()
        assert blob == gzip.compress(gzip.decompress(blob), 1, mtime=0)


def test_null_key_wire_parity_reference_bytes(spark, tmp_path):
    """VERDICT r7 #2: a null Kafka key must serialize as an explicit
    ``"key":null`` — the reference's Circe Encoder.forProduct7 printed with
    Printer.noSpaces (no dropNullValues; codecs/Circe.scala:29-38,
    BackupClientInterface.scala:506) always emits all seven fields. Assert
    the archive bytes against a HAND-BUILT reference-format fixture (not
    self-parity), for the bulk writer, the DataSource writer, and the
    multi-part merge path alike; then round-trip the null key back."""
    import base64
    import json as _json

    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    t0 = dt.datetime(2024, 3, 1, 10, 15, 0)
    rows = [
        ("t", 0, 1, None, b"v-null-key", t0, 0),
        ("t", 0, 2, b"k2", b"v2", t0 + dt.timedelta(seconds=1), 0),
    ]
    df = spark.createDataFrame(rows, RECORD_SCHEMA)

    b64 = lambda b: base64.b64encode(b).decode()
    ms = int(t0.replace(tzinfo=UTC).timestamp() * 1000)
    want_body = (
        "["
        '{"topic":"t","partition":0,"offset":1,"key":null,'
        f'"value":"{b64(b"v-null-key")}","timestamp":{ms},"timestamp_type":0}},'
        '{"topic":"t","partition":0,"offset":2,"key":"' + b64(b"k2") + '",'
        f'"value":"{b64(b"v2")}","timestamp":{ms + 1000},"timestamp_type":0}}'
        "]"
    ).encode()

    bulk = str(tmp_path / "bulk")
    keys = write_guardian_format(df, bulk, ChronoUnitSlice("HOURS"))
    assert len(keys) == 1
    assert open(os.path.join(bulk, physical_name(keys[0])), "rb").read() == want_body

    # DataSource writer: single-part fast path AND the merge path (which
    # renders driver-side through _wire_json) must emit identical bytes
    for name, frame in (("ds", df), ("ds_merge", df.repartition(4))):
        dest = str(tmp_path / name)
        frame.write.format("guardian").option("chronoUnitSlice", "hours").mode(
            "append"
        ).save(dest)
        files = sorted(os.listdir(dest))
        assert len(files) == 1
        assert open(os.path.join(dest, files[0]), "rb").read() == want_body

    restored = restore_batch(spark, bulk, fmt="guardian")
    got = {(r.offset, bytes(r.key) if r.key is not None else None) for r in restored.collect()}
    assert got == {(1, None), (2, b"k2")}
    # and the wire object itself parses with an explicit null, not absence
    parsed = _json.loads(want_body)
    assert parsed[0]["key"] is None and "key" in parsed[0]


def test_guardian_datasource_overwrite_stage_then_delete(spark, records, tmp_path, monkeypatch):
    """VERDICT r7 #4: the overwrite swap must be STAGE-THEN-DELETE — at no
    instant between staging and commit may a slice have NEITHER its old nor
    its new bytes reachable. Crash-inject at the two worst points (right
    after the old object is renamed aside; right before the aside copy is
    dropped) and assert both generations still exist on disk. The writer is
    driven in-process (the registered DataSource commit runs in a separate
    Python worker, out of monkeypatch reach)."""
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    ).select(*[f.name for f in RECORD_SCHEMA.fields])
    dest = str(tmp_path / "swap")
    write_guardian_format(recs, dest, ChronoUnitSlice("HOURS"))
    before = {f: open(os.path.join(dest, f), "rb").read() for f in os.listdir(dest)}
    rows = recs.collect()

    real_fs_ops = gs._fs_ops

    class Boom(RuntimeError):
        pass

    def crashing_fs_ops(path, crash_on):
        write_bytes, read_bytes, move, delete, rmdir = real_fs_ops(path)

        def move2(src, dst):
            move(src, dst)
            if crash_on == "after_aside" and "_old__" in dst:
                raise Boom("crash right after renaming the old object aside")

        def delete2(rel):
            if crash_on == "before_aside_delete" and "_old__" in rel:
                raise Boom("crash right before dropping the aside copy")
            delete(rel)

        return write_bytes, read_bytes, move2, delete2, rmdir

    def all_files(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = open(p, "rb").read()
        return out

    def run_overwrite():
        w = gs.GuardianWriter(
            {"path": dest, "chronounitslice": "hours"}, True, RECORD_SCHEMA
        )
        msg = w.write(iter(rows))
        w.commit([msg])

    for crash_on in ("after_aside", "before_aside_delete"):
        monkeypatch.setattr(gs, "_fs_ops", lambda p, c=crash_on: crashing_fs_ops(p, c))
        with pytest.raises(Boom):
            run_overwrite()
        monkeypatch.setattr(gs, "_fs_ops", real_fs_ops)
        state = all_files(dest)
        for phys, body in before.items():
            olds = [k for k in state if k.endswith(f"_old__{phys}")]
            in_place = state.get(phys)
            # never "neither": the old bytes survive in place or aside, and
            # if the old object was already moved aside the complete
            # replacement is present (staged or installed)
            assert in_place == body or (olds and state[olds[0]] == body), (crash_on, phys)
            if in_place != body:
                finals = [
                    k
                    for k in state
                    if k.endswith(f"_final__{phys}")  # merged/gzip staged object
                    or k.endswith(f"__{phys}.part")  # single-part staged object
                    or k == phys  # already installed
                ]
                assert finals, (crash_on, phys)
        # recovery: re-running the identical overwrite converges byte-exact
        # (a crashed run's orphaned staging dir may remain — operator cleanup)
        run_overwrite()
        got = {
            f: open(os.path.join(dest, f), "rb").read()
            for f in os.listdir(dest)
            if os.path.isfile(os.path.join(dest, f))
        }
        assert got == before


def test_guardian_datasource_stream_writer(spark, records, tmp_path):
    """Native ``writeStream.format("guardian")``: micro-batched appends to
    the engine's partitioned JSON-lines archive layout must restore to
    exactly the input (fmt='json' path, fromWhen pruning intact), and a
    REPLAYED batch must REPLACE its own files, not duplicate them."""
    import json as _json

    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    gs.register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    src, dest, ckpt = (str(tmp_path / p) for p in ("in", "arch", "ckpt"))
    half = recs.where(F.col("offset") < 200)
    half.coalesce(1).write.parquet(src)
    recs.subtract(half).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(recs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.format("guardian")
        .option("chronoUnitSlice", "hours")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(dest)
    )
    q.awaitTermination(120)

    restored = restore_batch(spark, dest, fmt="json")
    assert as_set(restored) == as_set(recs)
    # layout: slice partition dirs with batch-scoped jsonl parts
    slices = [d for d in os.listdir(dest) if d.startswith("slice=")]
    assert slices
    parts = os.listdir(os.path.join(dest, slices[0]))
    assert all(p.startswith("batch-") and p.endswith(".jsonl") for p in parts), parts

    # replay semantics: re-commit batch 0 with DIFFERENT task layout via the
    # writer driven in-process — its files replace the original batch-0 set
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA

    before = {
        (d, f)
        for d in slices
        for f in os.listdir(os.path.join(dest, d))
        if f.startswith("batch-0000000000-")
    }
    w = gs.GuardianStreamWriter({"path": dest, "chronounitslice": "hours"}, RECORD_SCHEMA)
    rows = recs.select(*[f.name for f in RECORD_SCHEMA.fields]).collect()
    mid = len(rows) // 2
    msgs = [w.write(iter(rows[:mid])), w.write(iter(rows[mid:]))]
    w.commit(msgs, 0)
    restored2 = restore_batch(spark, dest, fmt="json")
    assert as_set(restored2) == as_set(recs)  # still exactly-once
    after = {
        (d, f)
        for d in os.listdir(dest)
        if d.startswith("slice=")
        for f in os.listdir(os.path.join(dest, d))
        if f.startswith("batch-0000000000-")
    }
    assert after != before  # the replay really rewrote batch 0's files

    # wire format: one JSON object per line, null-safe key field explicit
    body = open(os.path.join(dest, slices[0], sorted(os.listdir(os.path.join(dest, slices[0])))[0]), "rb").read()
    first = _json.loads(body.decode().splitlines()[0])
    assert set(first) == {"topic", "partition", "offset", "key", "value", "timestamp", "timestamp_type"}


def test_guardian_datasource_stream_writer_gzip_and_from_when(spark, records, tmp_path):
    """Gzip parts restore identically; fromWhen pruning works over the
    streamed layout (partition-value pruning, same as the bulk sink)."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.sources import guardian_source as gs

    gs.register_guardian_datasource(spark)
    recs = records.withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )
    src, dest, ckpt = (str(tmp_path / p) for p in ("in", "archz", "ckpt"))
    recs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(recs.schema).parquet(src)
    q = (
        stream.writeStream.format("guardian")
        .option("chronoUnitSlice", "hours")
        .option("compression", "gzip")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(dest)
    )
    q.awaitTermination(120)
    restored = restore_batch(spark, dest, fmt="json")
    assert as_set(restored) == as_set(recs)

    cut_row = recs.agg(F.max("timestamp").alias("m")).collect()[0]
    cut = cut_row["m"].replace(minute=0, second=0, microsecond=0)
    got = restore_batch(spark, dest, fmt="json", from_when=cut.replace(tzinfo=dt.timezone.utc))
    want = recs.where(F.col("timestamp") >= F.lit(cut))
    assert as_set(got) == as_set(want)


def test_guardian_datasource_topic_zonemap_pruning(spark, tmp_path):
    """Object-granular topic pruning: with a materialized zone map and a
    pushed topic filter, the reader plans ONLY the objects whose topic
    set intersects — and results equal the unpruned scan. Slices unknown
    to the map are kept (stale-map safety); without the option the map
    is ignored entirely."""
    import datetime as dt

    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators import write_guardian_format
    from guardian_for_apache_kafka_spark.operators.maintenance import (
        archive_topic_zonemap,
        write_topic_zonemap,
    )
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        EqualTo,
        GuardianReader,
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    # topic A occupies hours 0-3, topic B hours 4-7: disjoint slices
    rows = [
        ("A" if h < 4 else "B", 0, h * 10 + i, None, f"v{h}:{i}".encode(),
         dt.datetime(2024, 3, 1, h, 5 * i), 0)
        for h in range(8)
        for i in range(3)
    ]
    recs = spark.createDataFrame(rows, RECORD_SCHEMA)
    dest = str(tmp_path / "zoned")
    write_guardian_format(recs, dest, ChronoUnitSlice("HOURS"))
    zm = archive_topic_zonemap(spark, dest).collect()
    assert len(zm) == 8 and all(r.n_records == 3 for r in zm)
    write_topic_zonemap(spark, dest)

    def planned(topic, zonemap):
        r = GuardianReader({"path": dest, "zonemap": zonemap})
        list(r.pushFilters([EqualTo(("topic",), topic)]))
        return len(r.partitions())

    assert planned("A", "true") == 4  # half the objects never open
    assert planned("B", "true") == 4
    assert planned("A", "") == 8  # opt-in: without the option, full scan

    got = (
        spark.read.format("guardian")
        .option("zonemap", "true")
        .load(dest)
        .where(F.col("topic") == "A")
    )
    want = recs.where(F.col("topic") == "A")
    assert as_set(got) == as_set(want)

    # stale-map safety: a new slice ABSENT from the map is still scanned
    late = spark.createDataFrame(
        [("A", 0, 999, None, b"late", dt.datetime(2024, 3, 1, 9, 0), 0)],
        RECORD_SCHEMA,
    )
    write_guardian_format(late, str(tmp_path / "late"), ChronoUnitSlice("HOURS"))
    late_obj = sorted(os.listdir(str(tmp_path / "late")))[0]
    os.rename(
        os.path.join(str(tmp_path / "late"), late_obj),
        os.path.join(dest, late_obj),
    )
    got2 = (
        spark.read.format("guardian")
        .option("zonemap", "true")
        .load(dest)
        .where(F.col("topic") == "A")
    )
    assert got2.count() == want.count() + 1


def test_archive_gap_report_finds_planted_gap(spark, tmp_path):
    """Write a DENSE hourly archive, delete two consecutive interior slice
    directories, and the gap report must show exactly that one run (and
    be empty before the deletion). Also drives the CLI verb."""
    import shutil
    import subprocess
    import sys

    from guardian_for_apache_kafka_spark.operators.maintenance import archive_gap_report

    dense = spark.createDataFrame(
        [
            ("t", 0, i, None, b"v%d" % i, dt.datetime(2024, 1, 1, h, 30), 0)
            for i, h in enumerate(range(8))
        ],
        "topic string, partition int, offset long, key binary, value binary, "
        "timestamp timestamp, timestamp_type int",
    )
    dest = str(tmp_path / "gapped")
    backup_batch(dense, dest, ChronoUnitSlice("HOURS"), fmt="json")
    dirs = sorted(d for d in os.listdir(dest) if d.startswith("slice="))
    assert len(dirs) >= 5, dirs
    assert archive_gap_report(spark, dest).count() == 0

    for victim in dirs[2:4]:
        shutil.rmtree(os.path.join(dest, victim))
    gaps = archive_gap_report(spark, dest).collect()
    assert len(gaps) == 1
    g = gaps[0]
    assert g.missing_slices == 2
    assert (g.gap_end - g.gap_start).total_seconds() == 3600

    out = subprocess.run(
        [sys.executable, "-m", "guardian_for_apache_kafka_spark", "gaps",
         "--dest", dest],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    import json as _json

    lines = [_json.loads(l) for l in out.stdout.strip().splitlines() if l.startswith("{")]
    assert any(d.get("missing_slices") == 2 for d in lines), out.stdout
