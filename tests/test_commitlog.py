"""Lakehouse commit layer (operators/commitlog): snapshot isolation, time
travel, REPLACE compaction, loud concurrent-writer arbitration, vacuum —
the table-level generalization of the reference's single-object resume
protocol (BackupClientInterface.scala:361-408). Every flow drives REAL
files through the guardian writer/reader."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.core import normalize_events_to_records
from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
from guardian_for_apache_kafka_spark.operators import (
    list_backup_keys,
    restore_batch,
    write_guardian_format,
)
from guardian_for_apache_kafka_spark.operators.backup import physical_name
from guardian_for_apache_kafka_spark.operators.commitlog import (
    CommitConflictError,
    commit,
    committed_backup,
    committed_merge_slices,
    committed_retention,
    init_commit_log,
    list_versions,
    read_commit,
    read_log,
    snapshot,
    snapshot_keys,
    time_travel_read,
    vacuum,
)
from guardian_for_apache_kafka_spark.sources.tables import load_table

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    return normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    )


def as_set(df):
    return {
        (r.topic, r.partition, r.offset, bytes(r.key) if r.key else None,
         bytes(r.value), r.timestamp, r.timestamp_type)
        for r in df.collect()
    }


def split_records(records):
    """Two disjoint halves by event time — 'day one' and 'day two' backups."""
    cut = records.agg(F.percentile_approx("timestamp", 0.5).alias("m")).collect()[0]["m"]
    return (
        records.where(F.col("timestamp") < F.lit(cut)),
        records.where(F.col("timestamp") >= F.lit(cut)),
    )


def test_committed_backup_snapshot_and_time_travel(spark, records, tmp_path):
    dest = str(tmp_path / "a")
    first, second = split_records(records)
    v0 = committed_backup(first, dest, ChronoUnitSlice("HOURS"))
    assert v0 == 0
    keys0 = snapshot_keys(dest)
    assert keys0 == list_backup_keys(dest)
    # the census on adds matches reality
    total = sum(a["records"] for a in read_commit(dest, 0)["actions"])
    assert total == first.count()

    v1 = committed_backup(second, dest, ChronoUnitSlice("HOURS"))
    assert v1 == 1
    assert set(keys0) < set(snapshot_keys(dest))

    # snapshot reads: latest sees everything, versionAsOf 0 sees day one only
    assert as_set(time_travel_read(spark, dest)) == as_set(records)
    assert as_set(time_travel_read(spark, dest, version=0)) == as_set(first)
    # parity with the legacy listing-based restore at latest
    assert as_set(restore_batch(spark, dest, fmt="guardian")) == as_set(records)


def test_snapshot_isolated_from_uncommitted_writes(spark, records, tmp_path):
    """A crash between write and commit leaves orphans snapshot-readers
    never see (the kill/restart story of the data path)."""
    dest = str(tmp_path / "b")
    first, second = split_records(records)
    committed_backup(first, dest, ChronoUnitSlice("HOURS"))
    # simulate the crash: objects land, commit never happens
    write_guardian_format(second, dest, ChronoUnitSlice("HOURS"))
    assert len(list_backup_keys(dest)) > len(snapshot_keys(dest))
    assert as_set(time_travel_read(spark, dest)) == as_set(first)
    # restart recovery: vacuum(orphans=True) removes the debris, the
    # snapshot is untouched, and the re-run backup commits cleanly
    vacuum(dest, orphans=True)
    assert list_backup_keys(dest) == snapshot_keys(dest)
    committed_backup(second, dest, ChronoUnitSlice("HOURS"))
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_retention_is_logical_until_vacuum(spark, records, tmp_path):
    dest = str(tmp_path / "c")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    keys = snapshot_keys(dest)
    cutpoint = dt.datetime.fromisoformat(
        keys[len(keys) // 2].split(".json")[0].replace("Z", "+00:00")
    )
    v1 = committed_retention(dest, cutpoint)
    assert v1 == 1
    live = snapshot_keys(dest)
    assert all(
        dt.datetime.fromisoformat(k.split(".json")[0].replace("Z", "+00:00"))
        >= cutpoint
        for k in live
    )
    # old snapshot still reads the full archive (bytes retained)
    assert as_set(time_travel_read(spark, dest, version=0)) == as_set(records)
    # vacuum drops the removed objects; latest snapshot unaffected
    deleted = vacuum(dest, retain_versions=1)
    assert sorted(deleted) == sorted(
        physical_name(k) for k in set(keys) - set(live)
    )
    latest = time_travel_read(spark, dest)
    assert latest.count() > 0
    assert as_set(latest) == {
        t for t in as_set(records) if t[5] >= cutpoint.replace(tzinfo=None)
    }
    # the vacuumed version now fails at PLANNING time with a diagnosis
    # (which version, how many objects gone, where to re-read) instead of
    # dying mid-job in an executor with a bare FileNotFoundError
    with pytest.raises(Exception, match=r"version 0 .*vacuum"):
        time_travel_read(spark, dest, version=0).collect()


def test_merge_slices_replace_commit(spark, records, tmp_path):
    dest = str(tmp_path / "d")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    keys0 = snapshot_keys(dest)
    assert len(keys0) > 3, "fixture must produce several hourly objects"
    v1 = committed_merge_slices(spark, dest, group_records=10**9)
    assert v1 == 1
    keys1 = snapshot_keys(dest)
    assert len(keys1) == 1  # everything merged into one object
    assert keys1[0] not in keys0  # physically NEW name (`.m<uuid>` decorated)
    # record set preserved exactly across the REPLACE commit
    assert as_set(time_travel_read(spark, dest)) == as_set(records)
    # time travel to the pre-merge layout still works (bytes retained)
    assert snapshot_keys(dest, 0) == keys0
    assert as_set(time_travel_read(spark, dest, version=0)) == as_set(records)
    # census carried through the merge
    meta = snapshot(dest)["files"][keys1[0]]
    assert meta["records"] == records.count()
    # merged key is time-parseable and keyed by the FIRST group slice
    from guardian_for_apache_kafka_spark.core.timeslice import key_to_datetime

    assert key_to_datetime(keys1[0]) == key_to_datetime(keys0[0])
    # vacuum then collects the superseded originals
    deleted = vacuum(dest, retain_versions=1)
    assert sorted(deleted) == sorted(physical_name(k) for k in keys0)
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_merge_preserves_gzip_flavor(spark, records, tmp_path):
    dest = str(tmp_path / "dz")
    committed_backup(
        records, dest, ChronoUnitSlice("HOURS"), compression="gzip"
    )
    committed_merge_slices(spark, dest, group_records=10**9)
    (merged,) = snapshot_keys(dest)
    assert merged.endswith(".json.gz")
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_concurrent_writer_arbitration(records, tmp_path, spark, monkeypatch):
    dest = str(tmp_path / "e")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    key = snapshot_keys(dest)[0]
    # optimistic concurrency: a stale expected_version loses loudly
    with pytest.raises(CommitConflictError):
        commit(dest, [{"op": "remove", "key": key}], "retention",
               expected_version=7)
    # TOCTOU race on the same version number: the rival publishes version 1
    # AFTER this writer listed the log (simulated with a stale listing) —
    # the os.link create-exclusive must make the slow writer lose, leaving
    # the rival's commit byte-identical and no temp debris behind
    import json

    from guardian_for_apache_kafka_spark.operators import commitlog as cl

    log_dir = os.path.join(dest, "_guardian_log")
    rival = os.path.join(log_dir, f"{1:020d}.json")
    with open(rival, "w") as fh:
        json.dump({"version": 1, "operation": "backup", "writer": "rival",
                   "committed_at": "x", "actions": []}, fh)
    before = open(rival, "rb").read()
    monkeypatch.setattr(cl, "list_versions", lambda d: [0])  # stale view
    with pytest.raises(CommitConflictError):
        commit(dest, [{"op": "remove", "key": key}], "retention")
    assert open(rival, "rb").read() == before
    assert not [n for n in os.listdir(log_dir) if n.startswith(".tmp-")]
    monkeypatch.undo()
    # after re-reading the log, the loser can commit cleanly as version 2
    assert commit(dest, [{"op": "remove", "key": key}], "retention") == 2


def test_init_commit_log_converts_existing_archive(spark, records, tmp_path):
    dest = str(tmp_path / "f")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    v0 = init_commit_log(dest)
    assert v0 == 0
    assert snapshot_keys(dest) == list_backup_keys(dest)
    assert read_commit(dest, 0)["operation"] == "convert"
    with pytest.raises(CommitConflictError):
        init_commit_log(dest)
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_read_log_audit_surface(spark, records, tmp_path):
    dest = str(tmp_path / "g")
    first, second = split_records(records)
    committed_backup(first, dest, ChronoUnitSlice("HOURS"))
    committed_backup(second, dest, ChronoUnitSlice("HOURS"))
    committed_merge_slices(spark, dest, group_records=10**9)
    log = read_log(spark, dest)
    ops = {
        r["operation"]: r["n"]
        for r in log.groupBy("operation").agg(F.count("*").alias("n")).collect()
    }
    assert set(ops) == {"backup", "compact"}
    # conservation: merged adds == sum of removed members' records
    compact = log.where(F.col("operation") == "compact")
    added = compact.where(F.col("op") == "add").agg(F.sum("records")).collect()[0][0]
    assert added == records.count()
    # every action row carries a parseable key and version ordering
    assert log.where(F.col("version") < 0).count() == 0
    assert log.where(F.col("op") == "add").where(F.col("md5").isNull()).count() == 0


def test_guardian_datasource_version_as_of_option(spark, records, tmp_path):
    """The DataSource option surface: spark.read.format('guardian')
    .option('versionAsOf', n) — pruning still composes (fromWhen)."""
    dest = str(tmp_path / "h")
    first, second = split_records(records)
    committed_backup(first, dest, ChronoUnitSlice("HOURS"))
    committed_backup(second, dest, ChronoUnitSlice("HOURS"))
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    df0 = (
        spark.read.format("guardian")
        .option("versionAsOf", "0")
        .load(dest)
    )
    assert as_set(df0) == as_set(first)
    # fromWhen pruning composes with the snapshot object set
    mid = first.agg(F.max("timestamp").alias("m")).collect()[0]["m"]
    pruned = (
        spark.read.format("guardian")
        .option("snapshot", "true")
        .option("fromWhen", mid.replace(tzinfo=UTC).isoformat())  # option wants an offset
        .load(dest)
        .where(F.col("timestamp") >= F.lit(mid))
    )
    expected = {t for t in as_set(records) if t[5] >= mid}
    assert as_set(pruned) == expected


def test_cli_log_and_vacuum_verbs(spark, records, tmp_path, capsys):
    """CLI surface: `log --init`, `log`, `vacuum` — metadata-only verbs
    (no Spark session is built for them)."""
    import json as _json

    from guardian_for_apache_kafka_spark.cli import main as cli_main

    dest = str(tmp_path / "cli")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    assert cli_main(["log", "--init", "--dest", dest, "--no-digest"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"initialized_version": 0}

    committed_merge_slices(spark, dest, group_records=10**9)
    assert cli_main(["log", "--dest", dest]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["latest"] == 1 and rep["live_files"] == 1
    assert [c["operation"] for c in rep["commits"]] == ["convert", "compact"]
    # as-of report sees the pre-merge file count
    assert cli_main(["log", "--dest", dest, "--version", "0"]) == 0
    rep0 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep0["live_files"] > 1 and rep0["snapshot_version"] == 0

    assert cli_main(["vacuum", "--dest", dest, "--retain", "1"]) == 0
    vac = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["n_deleted"] == rep0["live_files"]
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_stream_committed_backup_exactly_once(spark, records, tmp_path):
    """Streaming commits: one stream_backup commit per non-empty batch,
    batch-decorated object names, snapshot == every streamed record, and a
    replayed batch is a commit-log-exact no-op."""
    from guardian_for_apache_kafka_spark.operators.commitlog import (
        list_versions as _versions,
        read_commit as _read,
        stream_committed_backup,
    )
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        records_file_stream,
    )

    src = str(tmp_path / "src")
    dest = str(tmp_path / "arch")
    ckpt = str(tmp_path / "ckpt")
    records.coalesce(4).write.parquet(src)  # several files -> several batches
    stream = records_file_stream(spark, src, max_files_per_trigger=2)
    q = stream_committed_backup(stream, dest, ckpt, ChronoUnitSlice("HOURS"))
    q.awaitTermination(120)
    versions = _versions(dest)
    assert versions, "stream produced no commits"
    commits = [_read(dest, v) for v in versions]
    assert all(c["operation"] == "stream_backup" for c in commits)
    batch_ids = [c["batch_id"] for c in commits]
    assert len(batch_ids) == len(set(batch_ids))
    # every object name carries its batch decoration and parses to its slice
    for c in commits:
        for a in c["actions"]:
            assert f".b{c['batch_id']}." in a["key"]
    assert as_set(time_travel_read(spark, dest)) == as_set(records)
    # census + offset zone maps rode along (streaming-built archives skip
    # objects on snapshot reads exactly like batch-built ones)
    total = sum(a["records"] for c in commits for a in c["actions"])
    assert total == records.count()
    assert all("offsets" in a for c in commits for a in c["actions"])
    for c in commits:
        for a in c["actions"]:
            assert sum(1 for _ in a["offsets"]) >= 1
            assert all(lo <= hi for lo, hi in a["offsets"].values())
    # restart with the same checkpoint: nothing new to process, no new commits
    q2 = stream_committed_backup(
        records_file_stream(spark, src, max_files_per_trigger=2),
        dest, ckpt, ChronoUnitSlice("HOURS"),
    )
    q2.awaitTermination(120)
    assert _versions(dest) == versions
    # merge compaction then coalesces the per-batch objects
    committed_merge_slices(spark, dest, group_records=10**9)
    assert as_set(time_travel_read(spark, dest)) == as_set(records)


def test_log_checkpoint_bounds_replay(spark, records, tmp_path, monkeypatch):
    """Snapshot resolution uses the newest checkpoint: the fold starts after
    it, a torn checkpoint falls back to the full fold, and auto-checkpoints
    land every CHECKPOINT_INTERVAL commits."""
    import json as _json

    from guardian_for_apache_kafka_spark.operators import commitlog as cl

    dest = str(tmp_path / "ck")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    key0 = snapshot_keys(dest)[0]
    # drive many tiny commits past one checkpoint interval
    monkeypatch.setattr(cl, "CHECKPOINT_INTERVAL", 4)
    for i in range(9):
        op = "remove" if i % 2 == 0 else "add"
        cl.commit(dest, [{"op": op, "key": key0}], "churn")
    full = cl.snapshot(dest, use_checkpoint=False)
    fast = cl.snapshot(dest)
    assert fast == full
    cks = [n for n in os.listdir(os.path.join(dest, "_guardian_log"))
           if n.endswith(".checkpoint.json")]
    assert cks, "auto-checkpoint never fired"
    # historical as-of resolution agrees with the raw fold too
    for v in (0, 3, 6):
        assert cl.snapshot(dest, v) == cl.snapshot(dest, v, use_checkpoint=False)
    # torn checkpoint: unparseable file must fall back, not corrupt reads
    worst = os.path.join(dest, "_guardian_log", sorted(cks)[-1])
    with open(worst, "w") as fh:
        fh.write('{"version": 4, "files"')  # truncated json
    assert cl.snapshot(dest) == full
    # and an explicit rewrite repairs it
    cl.write_log_checkpoint(dest)
    assert cl.snapshot(dest) == full
    # time_travel_read still round-trips through the checkpointed resolver
    final_live = snapshot_keys(dest)
    got = time_travel_read(spark, dest)
    if key0 in final_live:
        assert got.count() > 0


def test_restore_batch_snapshot_and_version(spark, records, tmp_path):
    """Bulk restore from a pinned snapshot: point-in-time (version=N),
    latest-committed (snapshot=True), and orphan invisibility — a crashed
    writer's uncommitted object reaches the directory-listing restore but
    never the snapshot restore."""
    import shutil

    dest = str(tmp_path / "rs")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    keys = snapshot_keys(dest)
    cutpoint = dt.datetime.fromisoformat(
        keys[len(keys) // 2].split(".json")[0].replace("Z", "+00:00")
    )
    committed_retention(dest, cutpoint)

    assert as_set(
        restore_batch(spark, dest, fmt="guardian", version=0)
    ) == as_set(records)
    retained = {
        t for t in as_set(records) if t[5] >= cutpoint.replace(tzinfo=None)
    }
    assert as_set(
        restore_batch(spark, dest, fmt="guardian", snapshot=True)
    ) == retained

    # orphan: a valid-looking object the log never referenced
    shutil.copy(
        os.path.join(dest, physical_name(keys[0])),
        os.path.join(dest, physical_name("2030-01-01T00:00:00Z.json")),
    )
    n_listing = restore_batch(spark, dest, fmt="guardian").count()
    n_snapshot = restore_batch(spark, dest, fmt="guardian", snapshot=True).count()
    assert n_snapshot == len(retained) < n_listing

    with pytest.raises(ValueError, match="fmt='guardian'"):
        restore_batch(spark, dest, fmt="json", snapshot=True)


def test_commit_offset_zonemaps_prune_snapshot_reads(spark, records, tmp_path):
    """Backup commits record per-(topic, partition) min/max offsets per
    object; snapshot reads skip whole objects a pushed offset window can
    prove empty (the parquet row-group-stats analogue, stored in the
    commit log), and REPLACE compaction carries the envelope forward."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        GuardianReader,
    )

    dest = str(tmp_path / "oz")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    metas = list(snapshot(dest)["files"].values())
    assert metas and all("offsets" in m for m in metas)
    for m in metas:
        for tp, (lo, hi) in m["offsets"].items():
            assert "/" in tp and lo <= hi

    total = len(GuardianReader({"path": dest, "snapshot": "true"}).partitions())
    gmax = max(hi for m in metas for (_, hi) in m["offsets"].values())
    r = GuardianReader({"path": dest, "snapshot": "true"})
    leftover = list(r.pushFilters([GreaterThanOrEqual(("offset",), gmax)]))
    assert len(leftover) == 1, "offset filters return to Spark for row filtering"
    assert 0 < len(r.partitions()) < total, "window prunes objects, keeps hits"

    # end-to-end: the pruned scan returns exactly the filtered rows
    want = records.where(F.col("offset") >= gmax)
    got = time_travel_read(spark, dest).where(F.col("offset") >= gmax)
    assert as_set(got) == as_set(want)

    # compaction merges member zone maps into the merged object's envelope
    committed_merge_slices(spark, dest, group_records=50)
    snap2 = snapshot(dest)
    assert all("offsets" in m for m in snap2["files"].values())
    got2 = time_travel_read(spark, dest).where(F.col("offset") >= gmax)
    assert as_set(got2) == as_set(want)


def test_merge_tied_time_groups_stats_exact(spark, records, tmp_path):
    """Stats of a merged object come from the rows actually written, not a
    fold of member metadata: tied-time `.b<id>` keys split across two plan
    groups physically merge into ONE object (same first slice), and its
    census/zone map must cover every member — an envelope from only one
    group would let offset-filtered snapshot reads skip live rows."""
    from guardian_for_apache_kafka_spark.operators.commitlog import (
        committed_merge_slices,
        stream_committed_backup,
    )
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        records_file_stream,
    )

    # 40 records inside ONE hour, offsets 0..39, four single-file batches
    one_hour = records.orderBy("offset").limit(40).collect()
    base = one_hour[0].timestamp.replace(minute=0, second=0, microsecond=0)
    rows = [
        r.asDict() | {
            "timestamp": base + dt.timedelta(minutes=(i % 50)),
            "offset": i,
            "topic": "t",
            "partition": 0,
        }
        for i, r in enumerate(one_hour)
    ]
    recs = spark.createDataFrame(rows, records.schema)
    src = str(tmp_path / "src")
    dest = str(tmp_path / "arch")
    recs.repartition(4).write.parquet(src)
    q = stream_committed_backup(
        records_file_stream(spark, src, max_files_per_trigger=1),
        dest, str(tmp_path / "ckpt"), ChronoUnitSlice("HOURS"),
    )
    q.awaitTermination(120)
    keys = snapshot_keys(dest)
    assert len(keys) == 4 and len({k.split(".b")[0] for k in keys}) == 1, (
        "setup: four tied-time objects for one slice"
    )
    snap0 = snapshot(dest)
    n_by_key = {k: snap0["files"][k]["records"] for k in keys}
    # close group 1 after exactly the first two tied keys: both plan groups
    # then share the same first-slice time and merge into ONE object
    committed_merge_slices(
        spark, dest, group_records=n_by_key[keys[0]] + n_by_key[keys[1]]
    )
    snap = snapshot(dest)
    merged = [k for k in snap["files"] if ".m" in k]
    assert len(snap["files"]) == 1 and len(merged) == 1, (
        "tied-time groups physically merge into one object"
    )
    meta = snap["files"][merged[0]]
    assert meta["records"] == 40, "census covers EVERY member group"
    assert meta["offsets"] == {"t/0": [0, 39]}, (
        "zone map is the envelope of the written rows, not one group's"
    )
    # the decisive check: an offset window must never skip live rows
    got = time_travel_read(spark, dest).where(F.col("offset") <= 5)
    assert got.count() == 6


def test_snapshot_read_over_file_uri(spark, records, tmp_path):
    """file:// archives are first-class for the commit log; the vacuum
    presence guard must not mistake scheme-prefixed paths for missing
    files (os.path.exists('file:///...') is always False)."""
    dest = str(tmp_path / "u")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    got = time_travel_read(spark, "file://" + dest)
    assert as_set(got) == as_set(records)


def test_restore_batch_vacuumed_version_is_loud(spark, records, tmp_path):
    """The bulk-restore snapshot path shares the DataSource's planning-time
    vacuum diagnosis — never a bare executor FileNotFoundError."""
    dest = str(tmp_path / "rv")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    keys = snapshot_keys(dest)
    cutpoint = dt.datetime.fromisoformat(
        keys[len(keys) // 2].split(".json")[0].replace("Z", "+00:00")
    )
    committed_retention(dest, cutpoint)
    vacuum(dest, retain_versions=1)
    with pytest.raises(ValueError, match=r"version 0 .*vacuum"):
        restore_batch(spark, dest, fmt="guardian", version=0)
    # the retained snapshot still restores
    assert restore_batch(spark, dest, fmt="guardian", snapshot=True).count() > 0


def test_zone_map_skip_is_sound_property():
    """Property (hypothesis): zone_map_may_match may return False ONLY when
    no row in the object satisfies the pushed topic set + offset window —
    an unsound skip silently loses rows, so this is the invariant that
    matters; completeness (skipping everything skippable) is not required."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from guardian_for_apache_kafka_spark.operators.restore import zone_map_may_match

    rows_st = st.lists(
        st.tuples(
            st.sampled_from("abc"),            # topic
            st.integers(0, 2),                 # partition
            st.integers(0, 60),                # offset
        ),
        min_size=0, max_size=25,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        rows=rows_st,
        topics=st.one_of(
            st.none(), st.sets(st.sampled_from("abcd"), max_size=3)
        ),
        lo=st.one_of(st.none(), st.integers(-5, 65)),
        hi=st.one_of(st.none(), st.integers(-5, 65)),
    )
    def check(rows, topics, lo, hi):
        ranges: dict = {}
        for t, p, o in rows:
            tp = f"{t}/{p}"
            cur = ranges.get(tp)
            ranges[tp] = (
                [o, o] if cur is None
                else [min(cur[0], o), max(cur[1], o)]
            )
        if not zone_map_may_match(ranges, topics, lo, hi):
            for t, _, o in rows:
                satisfies = (
                    (topics is None or t in topics)
                    and (lo is None or o >= lo)
                    and (hi is None or o <= hi)
                )
                assert not satisfies, (rows, topics, lo, hi)

    check()


def test_offset_pruning_stale_safety_on_converted_log(spark, records, tmp_path):
    """A CONVERTed archive's version-0 actions carry no offset stats —
    an offset-filtered snapshot read must keep (not skip) every object."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        GuardianReader,
    )

    dest = str(tmp_path / "cv")
    write_guardian_format(records, dest, ChronoUnitSlice("HOURS"))
    init_commit_log(dest)
    r = GuardianReader({"path": dest, "snapshot": "true"})
    list(r.pushFilters([GreaterThanOrEqual(("offset",), 1 << 60)]))
    assert len(r.partitions()) == len(snapshot_keys(dest))


def test_fromwhen_straddle_keeps_all_tied_slice_objects():
    """R3 pruning over multi-object slices: every object sharing the
    straddling slice time survives the -1 rule (dropping all but one tied
    key would lose the other batches' straddling records)."""
    from guardian_for_apache_kafka_spark.operators.restore import (
        prune_keys_from_when,
    )

    keys = [
        "2024-01-01T00:00:00Z.b0.json",
        "2024-01-01T01:00:00Z.b0.json",
        "2024-01-01T01:00:00Z.b1.json",
        "2024-01-01T01:00:00Z.b2.json",
        "2024-01-01T02:00:00Z.b0.json",
    ]
    cut = dt.datetime(2024, 1, 1, 1, 30, tzinfo=UTC)
    kept = prune_keys_from_when(keys, cut)
    assert kept == keys[1:], "all three 01:00 objects straddle the cutoff"
    # cutoff after everything: the whole LAST slice stays, not just one key
    late = dt.datetime(2024, 1, 1, 9, 0, tzinfo=UTC)
    assert prune_keys_from_when(keys[:4], late) == keys[1:4]
    # cutoff before everything: keep all
    early = dt.datetime(2023, 12, 31, tzinfo=UTC)
    assert prune_keys_from_when(keys, early) == keys


def test_stream_archive_fromwhen_restore_exact(spark, records, tmp_path):
    """End-to-end: fromWhen restore over a multi-batch streamed archive is
    record-exact (the straddle generalization, via real files)."""
    from guardian_for_apache_kafka_spark.operators.commitlog import (
        stream_committed_backup,
    )
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        records_file_stream,
    )

    src = str(tmp_path / "src")
    dest = str(tmp_path / "arch")
    ckpt = str(tmp_path / "ckpt")
    # repartition WITHOUT time ordering: each batch spans many slices, so
    # most slices end up with several .b<id> objects
    records.repartition(4).write.parquet(src)
    q = stream_committed_backup(
        records_file_stream(spark, src, max_files_per_trigger=1),
        dest, ckpt, ChronoUnitSlice("HOURS"),
    )
    q.awaitTermination(120)
    mid = records.agg(
        F.percentile_approx("timestamp", 0.5).alias("m")
    ).collect()[0]["m"]
    cut = mid.replace(tzinfo=UTC)
    got = restore_batch(spark, dest, fmt="guardian", from_when=cut)
    expected = {t for t in as_set(records) if t[5] >= mid}
    assert as_set(got) == expected


def test_timestamp_as_of_time_travel(spark, records, tmp_path):
    """Delta-style timestampAsOf: resolve the newest commit at or before a
    wall-clock instant, through both the resolver and the DataSource option."""
    from guardian_for_apache_kafka_spark.operators.commitlog import (
        read_commit as _read,
        version_at_timestamp,
    )
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    dest = str(tmp_path / "ts")
    first, second = split_records(records)
    committed_backup(first, dest, ChronoUnitSlice("HOURS"))
    committed_backup(second, dest, ChronoUnitSlice("HOURS"))
    at0 = _read(dest, 0)["committed_at"]
    at1 = _read(dest, 1)["committed_at"]
    assert version_at_timestamp(dest, at0) == 0
    assert version_at_timestamp(dest, at1) == 1
    assert version_at_timestamp(dest, "2999-01-01T00:00:00Z") == 1
    with pytest.raises(ValueError):
        version_at_timestamp(dest, "2000-01-01T00:00:00Z")
    register_guardian_datasource(spark)
    df = (
        spark.read.format("guardian")
        .option("timestampAsOf", at0)
        .load(dest)
    )
    assert as_set(df) == as_set(first)


def test_remote_scheme_commit_log_is_loud(tmp_path):
    """Object-store URIs fail loudly at every commit-log surface instead of
    silently reporting an empty log."""
    from guardian_for_apache_kafka_spark.operators.commitlog import (
        list_versions as _versions,
        snapshot as _snapshot,
        vacuum as _vacuum,
    )

    for fn in (_versions, _snapshot, _vacuum):
        with pytest.raises(NotImplementedError):
            fn("s3a://bucket/archive")


def test_restore_batch_and_datasource_plan_the_same_objects(spark, records, tmp_path):
    """Both restore readers plan through plan_restore_keys: with an orphan
    object and a mid-slice cutoff, the bulk snapshot restore and the
    DataSource snapshot read return the same rows, and the planner returns
    exactly the objects GuardianReader.partitions plans."""
    import shutil

    from pyspark.sql.datasource import In

    from guardian_for_apache_kafka_spark.operators.restore import plan_restore_keys
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        GuardianReader,
        register_guardian_datasource,
    )

    dest = str(tmp_path / "pp")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    keys = snapshot_keys(dest)
    orphan = "2030-01-01T00:00:00Z.json"
    shutil.copy(
        os.path.join(dest, physical_name(keys[-1])),
        os.path.join(dest, physical_name(orphan)),
    )
    cut = dt.datetime.fromisoformat(keys[len(keys) // 2].split(".json")[0])
    cut += dt.timedelta(minutes=30)
    topics = {sorted(r.topic for r in records.select("topic").distinct().collect())[0]}

    bulk = restore_batch(spark, dest, snapshot=True, from_when=cut, topics=topics)
    register_guardian_datasource(spark)
    via_ds = (
        spark.read.format("guardian").option("snapshot", "true")
        .option("fromWhen", cut.isoformat()).load(dest)
        .where(F.col("topic").isin(*topics))
        .where(F.col("timestamp") >= F.lit(cut))
    )
    want = {
        t for t in as_set(records)
        if t[0] in topics and t[5] >= cut.replace(tzinfo=None)
    }
    assert want and as_set(bulk) == as_set(via_ds) == want

    planned = plan_restore_keys(dest, cut, snapshot=True, topics=topics)
    assert orphan not in planned and 0 < len(planned) < len(keys)
    r = GuardianReader({"path": dest, "snapshot": "true", "fromwhen": cut.isoformat()})
    list(r.pushFilters([In(("topic",), tuple(topics))]))
    assert [p.path for p in r.partitions()] == [
        os.path.join(dest, physical_name(k)) for k in planned
    ]


def test_restore_batch_snapshot_skips_objects_by_zone_map(spark, tmp_path):
    """A one-topic snapshot restore opens only that topic's objects: the
    commit log's per-object offset zone maps skip the rest, as they do for
    the DataSource (disjoint-topic layout: A in hours 0-3, B in hours 4-7)."""
    from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA

    rows = [
        ("A" if h < 4 else "B", 0, h * 10 + i, None, f"v{h}:{i}".encode(),
         dt.datetime(2024, 3, 1, h, 5 * i), 0)
        for h in range(8)
        for i in range(3)
    ]
    recs = spark.createDataFrame(rows, RECORD_SCHEMA)
    dest = str(tmp_path / "zoned")
    committed_backup(recs, dest, ChronoUnitSlice("HOURS"))
    keys = snapshot_keys(dest)
    assert len(keys) == 8

    got = restore_batch(spark, dest, snapshot=True, topics={"A"})
    opened = sorted(os.path.basename(p) for p in got.inputFiles())
    assert opened == sorted(physical_name(k) for k in keys[:4])
    assert as_set(got) == as_set(recs.where(F.col("topic") == "A"))


def test_snapshot_restore_build_lists_once_and_opens_only_planned_objects(
    spark, records, tmp_path, count_jobs
):
    """Building a snapshot restore over more objects than Spark's parallel
    listing threshold (32 paths) launches no Spark job; reading it is one
    job; it opens exactly the snapshot's objects — never a committed-looking
    orphan, nor an orphan that is not even gzip."""
    import gzip

    dest = str(tmp_path / "many")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"), compression="gzip")
    keys = snapshot_keys(dest)
    assert len(keys) > 32
    with open(os.path.join(dest, "2099-01-01T00_00Z.json.gz"), "wb") as f:
        f.write(gzip.compress(b'[{"topic":"orphan","partition":0,"offset":1,"key":null,'
                              b'"value":"YQ==","timestamp":0,"timestamp_type":0}]'))
    with open(os.path.join(dest, "2099-01-02T00_00Z.json.gz"), "wb") as f:
        f.write(b"not gzip")
    assert len(list_backup_keys(dest)) == len(keys) + 2

    got, built = count_jobs(lambda: restore_batch(spark, dest, snapshot=True))
    assert built == 0
    _, noop = count_jobs(lambda: got.write.format("noop").mode("overwrite").save())
    assert noop == 1
    assert sorted(os.path.basename(p) for p in got.inputFiles()) == sorted(
        physical_name(k) for k in keys
    )
    assert as_set(got) == as_set(records)


def test_guardian_datasource_rejects_version_and_timestamp_as_of(spark, records, tmp_path):
    """versionAsOf and timestampAsOf together are ambiguous (Delta rejects
    them too): the reader refuses the pair instead of letting one win."""
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        GuardianReader,
        register_guardian_datasource,
    )

    both = {"versionasof": "0", "timestampasof": "2999-01-01T00:00:00Z"}
    with pytest.raises(ValueError, match="versionAsOf.*timestampAsOf"):
        GuardianReader({"path": "x", **both})

    dest = str(tmp_path / "vt")
    committed_backup(records, dest, ChronoUnitSlice("HOURS"))
    register_guardian_datasource(spark)
    reader = spark.read.format("guardian").option("versionAsOf", "0")
    with pytest.raises(Exception, match="versionAsOf.*timestampAsOf"):
        reader.option("timestampAsOf", both["timestampasof"]).load(dest).collect()
