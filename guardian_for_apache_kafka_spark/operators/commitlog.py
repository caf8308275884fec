"""Lakehouse commit layer for guardian archives: an atomic, versioned
commit log giving snapshot-isolated reads, time travel, and loud
concurrent-writer arbitration over the existing slice objects.

The reference's resume protocol (BackupClientInterface.scala:361-408 —
resume an interrupted multipart upload so the archive never shows a torn
object) solves atomicity for ONE writer and ONE object. This module is the
table-level generalization the reference never had, re-expressed as the
modern table-format design (Delta/Iceberg-style, built from public
primitives only — no delta-spark/iceberg jars; plain JSON manifests +
POSIX/Hadoop atomic-create):

- ``_guardian_log/{version:020d}.json`` — ONE file per commit, holding the
  version's action list (``add`` / ``remove`` of logical slice keys with
  size/record/digest metadata). The log directory starts with ``_`` so the
  legacy listing path (`restore.list_backup_keys`) never sees it: archives
  without a log behave exactly as before, and the log is strictly additive.
- **Atomic arbitration**: a commit is published by `os.link`-ing a staged
  temp file to the version path — create-exclusive, so of two racing
  writers exactly one wins and the loser gets :class:`CommitConflictError`
  (never a torn or silently-merged log). Pass ``expected_version`` for
  optimistic-concurrency semantics (fail if anyone committed since you
  read). Object stores without atomic create-if-absent need a CAS service
  exactly as Delta's LogStore does; the local/HDFS path here is the real
  protocol, not a simulation.
- **Snapshot isolation**: readers resolve a version's live file set by
  folding the action log (adds minus removes) and read ONLY those objects —
  a concurrent backup/compaction/retention commit never changes the file
  set under a running query. ``version=None`` pins the LATEST committed
  version at plan time.
- **Time travel**: ``time_travel_read(spark, dest, version)`` (and the
  guardian DataSource's ``versionAsOf`` option) reconstructs any retained
  historical snapshot — g11's replication-diff made first-class.
- **Logical-then-physical delete**: retention/compaction commits only
  REMOVE keys from the snapshot; bytes stay until :func:`vacuum` drops
  objects unreferenced by any retained version. Old snapshots remain
  readable until then (the lakehouse contract; `forget_keys` stays the
  immediate-erasure path for GDPR where time travel is the liability).

Scale: the log is METADATA-scale — one small JSON file per commit, folded
on the driver (version-count bounded, like Delta's log replay before
checkpointing); the DATA path stays fully distributed (the snapshot only
decides which objects become input partitions). At 100 TB the log holds
thousands of entries while the objects hold the terabytes.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import uuid

from guardian_for_apache_kafka_spark.core.timeslice import key_to_datetime, slice_sort_key
from guardian_for_apache_kafka_spark.operators.backup import physical_name

LOG_DIR = "_guardian_log"


class CommitConflictError(RuntimeError):
    """Another writer committed the version this writer raced for. The
    archive is unchanged by the loser; re-read the snapshot, re-derive the
    actions, and retry EXPLICITLY (no silent auto-merge — whether a backup
    on top of a concurrent retention is still valid is the caller's call)."""


def _is_remote(dest: str) -> bool:
    return "://" in dest and not dest.startswith("file://")


def _local_root(dest: str) -> str:
    return dest[len("file://"):] if dest.startswith("file://") else dest


def _log_path(dest: str) -> str:
    return os.path.join(_local_root(dest), LOG_DIR)


def _version_name(version: int) -> str:
    return f"{version:020d}.json"


def list_versions(dest: str) -> list[int]:
    """Committed versions, ascending. Missing log dir = uncommitted archive."""
    if _is_remote(dest):
        # loud, not a silent empty log: every reader funnels through here,
        # and a remote archive silently reporting "no commits" would make
        # snapshot readers fall back to nothing instead of failing
        raise NotImplementedError(
            "commit-log access over object-store URIs needs a CAS LogStore; "
            "mount the archive (file://) or run from a coordinator with one"
        )
    try:
        names = os.listdir(_log_path(dest))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.endswith(".json") and n[:-5].isdigit():
            out.append(int(n[:-5]))
    return sorted(out)


def read_commit(dest: str, version: int) -> dict:
    with open(os.path.join(_log_path(dest), _version_name(version))) as fh:
        return json.load(fh)


def commit(
    dest: str,
    actions: list[dict],
    operation: str,
    expected_version: int | None = None,
    writer: str | None = None,
    extra: dict | None = None,
) -> int:
    """Publish one atomic commit; return its version.

    ``actions``: ``{"op": "add"|"remove", "key": <logical slice key>, ...}``
    with optional ``size``/``records``/``md5`` metadata on adds. Version =
    latest + 1 (0 for a fresh log). ``expected_version`` makes the write
    conditional: raise :class:`CommitConflictError` unless the latest
    committed version is still exactly that — optimistic concurrency for
    read-modify-write maintenance (compaction must not remove files a
    concurrent retention already removed). Publication is stage-then-link:
    the JSON is fully written to a unique temp name, then ``os.link`` to the
    version path — create-exclusive on POSIX/NFS/HDFS-style stores, so a
    racing writer loses with an exception, never tears or overwrites."""
    if _is_remote(dest):
        raise NotImplementedError(
            "commit-log arbitration over object-store URIs needs an atomic "
            "create-if-absent (CAS LogStore); mount the archive or commit "
            "from a coordinator with one"
        )
    for a in actions:
        if a.get("op") not in ("add", "remove"):
            raise ValueError(f"action op must be add|remove: {a}")
        key_to_datetime(a["key"])  # malformed key = loud
    log_dir = _log_path(dest)
    os.makedirs(log_dir, exist_ok=True)
    versions = list_versions(dest)
    latest = versions[-1] if versions else None
    if expected_version is not None and latest != expected_version:
        raise CommitConflictError(
            f"expected latest version {expected_version}, found {latest}"
        )
    version = 0 if latest is None else latest + 1
    payload = {
        "version": version,
        "operation": operation,
        "writer": writer or f"pid-{os.getpid()}",
        "committed_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        "actions": actions,
        **(extra or {}),
    }
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
    final = os.path.join(log_dir, _version_name(version))
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)  # atomic create-exclusive: the arbitration point
    except FileExistsError as e:
        raise CommitConflictError(
            f"version {version} was committed concurrently"
        ) from e
    finally:
        os.unlink(tmp)
    if version and version % CHECKPOINT_INTERVAL == 0:
        try:
            write_log_checkpoint(dest, version)
        except OSError:
            pass  # a missing checkpoint only costs fold time, never reads
    return version


CHECKPOINT_INTERVAL = 32  # commits between snapshot checkpoints


def _checkpoint_path(dest: str, version: int) -> str:
    return os.path.join(_log_path(dest), f"{version:020d}.checkpoint.json")


def write_log_checkpoint(dest: str, version: int | None = None) -> str:
    """Materialize the folded snapshot at ``version`` as a checkpoint file —
    the Delta-checkpoint analogue that bounds snapshot resolution to
    O(commits since last checkpoint) instead of O(all commits). Readers use
    it automatically; commits write one every ``CHECKPOINT_INTERVAL``
    versions. Idempotent (same fold -> same content); a torn write cannot
    corrupt reads because a checkpoint is only trusted if json-parseable,
    with fall-back to the full fold."""
    snap = snapshot(dest, version, use_checkpoint=False)
    path = _checkpoint_path(dest, snap["version"])
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(snap, fh, sort_keys=True)
    os.replace(tmp, path)
    return path


def _latest_checkpoint(dest: str, at_or_below: int) -> dict | None:
    try:
        names = os.listdir(_log_path(dest))
    except FileNotFoundError:
        return None
    best = -1
    for n in names:
        if n.endswith(".checkpoint.json") and n[:20].isdigit():
            v = int(n[:20])
            if best < v <= at_or_below:
                best = v
    if best < 0:
        return None
    try:
        with open(_checkpoint_path(dest, best)) as fh:
            snap = json.load(fh)
        if snap.get("version") == best and isinstance(snap.get("files"), dict):
            return snap
    except (OSError, ValueError):
        pass  # unreadable/torn checkpoint: fall back to the full fold
    return None


def snapshot(
    dest: str, version: int | None = None, use_checkpoint: bool = True
) -> dict:
    """Fold the log up to ``version`` (default: latest). Returns
    ``{"version": v, "files": {logical_key: add-action-metadata}}`` — the
    exact object set a snapshot-isolated read may touch. Resolution starts
    from the newest readable checkpoint at or below ``version`` (see
    :func:`write_log_checkpoint`), so a long-lived archive's read planning
    stays O(CHECKPOINT_INTERVAL), not O(total commits)."""
    versions = list_versions(dest)
    if not versions:
        raise FileNotFoundError(f"no commit log at {dest!r} (run init_commit_log)")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(f"version {version} not in committed {versions}")
    files: dict[str, dict] = {}
    start = 0
    if use_checkpoint:
        ckpt = _latest_checkpoint(dest, version)
        if ckpt is not None:
            files = dict(ckpt["files"])
            start = ckpt["version"] + 1
    for v in versions:
        if v < start:
            continue
        if v > version:
            break
        for a in read_commit(dest, v)["actions"]:
            if a["op"] == "add":
                files[a["key"]] = {k: x for k, x in a.items() if k != "op"}
            else:
                files.pop(a["key"], None)
    return {"version": version, "files": files}


def snapshot_keys(dest: str, version: int | None = None) -> list[str]:
    """Live logical keys at a version, sorted by slice time (the commit-log
    replacement for `restore.list_backup_keys`'s directory listing)."""
    return sorted(snapshot(dest, version)["files"], key=slice_sort_key)


def ensure_snapshot_objects_present(dest: str, keys, version: int) -> None:
    """Planning-time guard of every snapshot read, called only by
    `restore.plan_restore_keys` (the planner behind `restore.restore_batch`
    and the guardian DataSource): raise a vacuum diagnosis if any
    referenced object's bytes are gone, instead of letting the job die
    mid-flight in an executor with a bare FileNotFoundError (easily mistaken
    for transient storage flake). Slice-count-bounded stat() calls; handles
    bare and ``file://`` paths exactly like every other commit-log accessor
    (snapshot mode refuses other remote schemes via :func:`list_versions`)."""
    root = _local_root(dest)
    missing = [
        k for k in keys
        if not os.path.exists(os.path.join(root, physical_name(k)))
    ]
    if missing:
        raise ValueError(
            f"snapshot read at version {version} references {len(missing)} "
            "object(s) removed by vacuum() (first: "
            f"{physical_name(missing[0])!r}); this version's log entries "
            "remain as the audit record but its files are gone — re-read at "
            f"a retained version (latest committed: {list_versions(dest)[-1]})"
        )


def _file_meta(dest: str, key: str, digest: bool = True) -> dict:
    path = os.path.join(_local_root(dest), physical_name(key))
    meta: dict = {"op": "add", "key": key, "size": os.path.getsize(path)}
    if digest:
        h = hashlib.md5()
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        meta["md5"] = h.hexdigest()
    return meta


def init_commit_log(dest: str, digest: bool = True) -> int:
    """Bootstrap: snapshot every existing archive object as version 0 (the
    Delta `CONVERT TO DELTA` analogue). Refuses if a log already exists."""
    if list_versions(dest):
        raise CommitConflictError(f"commit log already initialized at {dest!r}")
    from guardian_for_apache_kafka_spark.operators.restore import list_backup_keys

    actions = [_file_meta(dest, k, digest) for k in list_backup_keys(dest)]
    return commit(dest, actions, operation="convert", expected_version=None)


def committed_backup(
    records,
    dest: str,
    config,
    expected_version: int | None = None,
    digest: bool = True,
    **writer_kwargs,
) -> int:
    """`backup.write_guardian_format` + an ``add`` commit of exactly the
    written keys. Objects land before the commit, so a crash between the
    two leaves orphans INVISIBLE to snapshot readers (vacuum(orphans=True)
    collects them) — write-then-commit is what makes the data path atomic."""
    from guardian_for_apache_kafka_spark.operators.backup import (
        write_guardian_format,
    )

    # the writer's ONE job returns keys + census + per-(topic, partition)
    # offset envelopes computed from exactly the rows it wrote (no second
    # evaluation of `records` — the stats describe the written bytes by
    # construction). The census lets committed_merge_slices PLAN without
    # scanning; the offset ranges let snapshot reads SKIP whole objects
    # against pushed topic/offset predicates (restore.plan_restore_keys) — the
    # object-level analogue of parquet row-group stats, stored in the
    # commit log instead of a sidecar.
    keys, stats = write_guardian_format(
        records, dest, config, return_stats=True, **writer_kwargs
    )
    return commit(
        dest,
        _stats_actions(dest, keys, stats, digest),
        "backup",
        expected_version=expected_version,
    )


def _stats_actions(dest: str, keys, stats: dict, digest: bool) -> list[dict]:
    """``add`` actions for freshly written objects: file meta + the writer's
    census/offset stats (``offsets`` omitted when the writer marked the
    object's map incomplete — readers keep stat-less objects)."""
    actions = []
    for k in keys:
        meta = _file_meta(dest, k, digest)
        st = stats.get(k)
        if st is not None:
            meta["records"] = int(st["records"])
            if st["offsets"]:
                meta["offsets"] = st["offsets"]
        actions.append(meta)
    return actions


def stream_committed_backup(
    records,
    dest: str,
    checkpoint: str,
    config,
    compression: str | None = None,
    available_now: bool = True,
    digest: bool = True,
):
    """Streaming archival with lakehouse commits: every micro-batch writes
    guardian-format objects decorated ``.q<query id>.b<batch_id>`` and
    publishes one ``stream_backup`` commit carrying both ids. The query id
    is stable across restarts of one checkpoint and distinct between
    checkpoints, so a replayed batch rewrites ITS OWN orphans, never a
    committed object, even in a slice another query also wrote. Replay
    safety is commit-log-exact: a batch whose ``(query_id, batch_id)`` the
    log already holds is a no-op (a legacy commit without ``query_id``
    matches on ``batch_id`` alone), so snapshot readers never see a batch
    twice or half. A slice receives one object per batch that touched it;
    `committed_merge_slices` is the matching small-object compactor.

    ChronoUnitSlice only (an anchored PeriodFromFirst would need the
    checkpointed-anchor machinery; compose stream_backup_foreach_batch +
    init_commit_log for that layout instead). Returns the StreamingQuery.
    """
    from guardian_for_apache_kafka_spark.core.model import record_to_json_col
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import (
        with_slice,
        write_array_objects,
    )
    from guardian_for_apache_kafka_spark.streaming.pipeline import (
        _start_foreach_batch,
    )

    if not isinstance(config, ChronoUnitSlice):
        raise ValueError(
            "stream_committed_backup requires a ChronoUnitSlice config"
        )

    def write_batch(batch_df, batch_id: int) -> None:
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        for v in list_versions(dest):
            c = read_commit(dest, v)
            if c.get("operation") == "stream_backup" and c.get("batch_id") == batch_id:
                if c.get("query_id", query_id) == query_id:  # legacy: no query_id
                    return  # replayed batch: already committed, exactly-once
        sliced = with_slice(batch_df, config)
        wire = sliced.select(
            "slice", "topic", "partition", "offset",
            record_to_json_col().alias("json"),
        )
        # the writer's one-job stats give streaming-built archives the same
        # census + offset zone maps as batch committed_backup, computed from
        # exactly the written rows
        keys, stats = write_array_objects(
            wire, dest, compression=compression,
            key_decoration=f".q{uuid.UUID(query_id).hex}.b{batch_id}",
            return_stats=True,
        )
        if not keys:
            return  # empty batch: no objects, no commit
        commit(
            dest,
            _stats_actions(dest, keys, stats, digest),
            "stream_backup",
            extra={"query_id": query_id, "batch_id": batch_id},
        )

    return _start_foreach_batch(records, write_batch, checkpoint, available_now)


def committed_retention(
    dest: str, cutoff: _dt.datetime, expected_version: int | None = None
) -> int:
    """LOGICAL retention: one ``remove`` commit for every live key strictly
    before ``cutoff``. Bytes stay until :func:`vacuum`; every pre-existing
    snapshot still reads them (contrast `maintenance.plan_retention` +
    physical delete, which destroys history)."""
    dropped = [
        k for k in snapshot_keys(dest)
        if key_to_datetime(k) < cutoff
    ]
    actions = [{"op": "remove", "key": k} for k in dropped]
    return commit(dest, actions, "retention", expected_version=expected_version)


def committed_merge_slices(
    spark,
    dest: str,
    group_records: int = 1000,
    expected_version: int | None = None,
    digest: bool = True,
) -> int:
    """Small-object compaction as a REPLACE commit: walk the live snapshot
    in slice order, group contiguous objects until each group reaches
    ``group_records`` records (by the commit log's recorded census — a
    metadata fold, no data scan to plan), rewrite every multi-object group
    as ONE object keyed by its FIRST slice, and commit ``remove`` (old) +
    ``add`` (merged) atomically. Readers of older versions keep seeing the
    originals (bytes stay until :func:`vacuum`); readers of the new version
    see the merged objects — the same records, fewer objects (the g13 plan,
    executed with snapshot isolation; the reference's small-object problem
    has no in-tool fix at all).

    Keying the merged object by the group's first slice keeps the key
    time-parseable and range pruning sound: groups are CONTIGUOUS in slice
    order, so every record in the object is >= its key's time — the same
    invariant g13's contiguous-group plan preserves. Compression is
    preserved per group (a .gz group rewrites .gz).

    Scale shape: ONE distributed read+write job for ALL groups (per
    compression flavor): each group's records get the group's first slice
    as their ``slice`` value and `backup.write_array_objects` streams every
    merged object out in parallel — a day of tiny slices is one job, not N.
    """
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.core.timeslice import (
        compression_of_key,
    )
    from guardian_for_apache_kafka_spark.operators.backup import (
        write_array_objects,
    )
    from guardian_for_apache_kafka_spark.operators.restore import (
        read_guardian_files,
    )
    from guardian_for_apache_kafka_spark.core.model import record_to_json_col

    snap = snapshot(dest)
    keys = sorted(snap["files"], key=slice_sort_key)
    groups: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for k in keys:
        n = snap["files"][k].get("records") or 1
        cur.append(k)
        acc += n
        if acc >= group_records:
            groups.append(cur)
            cur, acc = [], 0
    if cur:
        groups.append(cur)

    actions: list[dict] = []
    for comp in (None, "gzip"):
        plan = [g for g in groups if len(g) >= 2 and compression_of_key(g[0]) == comp]
        if not plan:
            continue
        merged = None
        for grp in plan:
            first = key_to_datetime(grp[0])
            part = read_guardian_files(spark, dest, grp).withColumn("slice", F.lit(first))
            merged = part if merged is None else merged.unionByName(part)
        wire = merged.select(
            "slice", "topic", "partition", "offset",
            record_to_json_col().alias("json"),
        )
        # a unique decoration per rewrite: the merged object NEVER reuses a
        # name an older snapshot references (physical immutability), and a
        # racing compactor's orphans can never collide with the winner's.
        # Census + offset envelopes come from the writer's own one-job
        # stats — i.e. from the rows actually written into each merged
        # object — NOT from folding the members' recorded metadata: groups
        # that share a first-slice time (possible when tied-time `.b<id>`
        # keys split across groups) physically merge into ONE object, and
        # only write-side stats describe that object correctly.
        new_keys, stats = write_array_objects(
            wire, dest, compression=comp,
            key_decoration=f".m{uuid.uuid4().hex[:8]}",
            return_stats=True,
        )
        for grp in plan:
            for k in grp:
                actions.append({"op": "remove", "key": k})
        actions.extend(_stats_actions(dest, new_keys, stats, digest))
    if not actions:
        return snap["version"]
    return commit(dest, actions, "compact", expected_version=expected_version)


def vacuum(dest: str, retain_versions: int = 1, orphans: bool = False) -> list[str]:
    """PHYSICAL delete of objects referenced by no retained snapshot. Keeps
    the newest ``retain_versions`` versions readable; older versions stop
    time-traveling (a snapshot read that references a deleted object fails
    at planning time with a vacuum diagnosis — restore.plan_restore_keys)
    but their log entries remain as the audit record. Returns deleted
    physical names.

    ``orphans=True`` additionally deletes listed archive objects the log
    has NEVER referenced — the debris of a writer that crashed between
    `write_guardian_format` and its commit (invisible to snapshot readers
    by construction). Off by default: an orphan is indistinguishable from
    an in-flight writer's not-yet-committed objects, so only run it when
    no backup is running (the same caveat as Delta's VACUUM grace window;
    a production object store would add a modification-time floor)."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    versions = list_versions(dest)
    if not versions:
        return []
    keep: set[str] = set()
    for v in versions[-retain_versions:]:
        keep |= set(snapshot(dest, v)["files"])
    ever: set[str] = set()
    for v in versions:
        for a in read_commit(dest, v)["actions"]:
            if a["op"] == "add":
                ever.add(a["key"])
    doomed = ever - keep
    if orphans:
        from guardian_for_apache_kafka_spark.operators.restore import (
            list_backup_keys,
        )

        doomed |= set(list_backup_keys(dest)) - ever - keep
    root = _local_root(dest)
    deleted = []
    for k in sorted(doomed):
        path = os.path.join(root, physical_name(k))
        if os.path.exists(path):
            os.unlink(path)
            deleted.append(physical_name(k))
    return deleted


_LOG_SCHEMA = (
    "version BIGINT, operation STRING, writer STRING, committed_at STRING, "
    "op STRING, key STRING, size BIGINT, records BIGINT, md5 STRING"
)


def read_log(spark, dest: str):
    """The commit log as a DataFrame (one row per action) — the audit
    surface g19-style queries aggregate. Metadata-scale createDataFrame;
    at checkpointed-log scale swap for spark.read.json over the log dir."""
    rows = []
    for v in list_versions(dest):
        c = read_commit(dest, v)
        for a in c["actions"]:
            rows.append((
                v, c["operation"], c["writer"], c["committed_at"],
                a["op"], a["key"], a.get("size"), a.get("records"),
                a.get("md5"),
            ))
    return spark.createDataFrame(rows, _LOG_SCHEMA)


def version_at_timestamp(dest: str, ts) -> int:
    """Timestamp-based time travel: the newest version whose commit landed
    at or before ``ts`` (ISO string or aware datetime) — Delta's
    ``timestampAsOf`` semantics, resolved from the commits' ``committed_at``
    wall-clock stamps. Raises if the earliest commit is later than ``ts``."""
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    best = None
    for v in list_versions(dest):
        at = _dt.datetime.fromisoformat(read_commit(dest, v)["committed_at"])
        if at <= ts:
            best = v
        else:
            break  # committed_at is monotone within one log
    if best is None:
        raise ValueError(f"no commit at or before {ts.isoformat()}")
    return best


def time_travel_read(spark, dest: str, version: int | None = None):
    """Snapshot-isolated archive read at a version: the guardian DataSource
    restricted to exactly the snapshot's object set (``versionAsOf``)."""
    from guardian_for_apache_kafka_spark.sources.guardian_source import (
        register_guardian_datasource,
    )

    register_guardian_datasource(spark)
    reader = spark.read.format("guardian").option("snapshot", "true")
    if version is not None:
        reader = reader.option("versionAsOf", str(version))
    return reader.load(dest)
