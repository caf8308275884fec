"""Spark-4 Python DataSource exposing guardian-format archives as a
first-class format: ``spark.read.format("guardian").load(dest)``.

The reference's archive (one JSON array object per time slice, optionally
gzip, ``null]`` interruption sentinel — SURVEY.md §1.2/§1.3) becomes a
native source with:

- one input partition PER ARCHIVE OBJECT (slice-parallel scan, the same
  parallelism unit as the reference's restore listing,
  core-restore/.../RestoreClientInterface.scala:33-43);
- PLANNING-TIME slice pruning from the ``fromWhen`` option — the R3
  ``-1``-slice straddle rule applied before any file opens, so pruned
  objects never reach an executor;
- row-level FILTER PUSHDOWN via the DataSource ``pushFilters`` API:
  ``EqualTo``/``In`` on ``topic`` and ``IsNotNull`` on ``key`` are
  consumed inside the reader (records die at parse time); everything else
  is handed back to Spark;
- OBJECT SKIPPING from commit-log zone maps (snapshot/time-travel reads):
  backup and compact commits record per-(topic, partition) min/max offsets
  per object (operators/commitlog.committed_backup), and pushed
  topic/offset predicates prune whole objects at planning time — the
  object-level analogue of parquet row-group stats, with stale-safety
  (stat-less objects always scan).

Both readers plan their objects (listing or snapshot fold, slice-time sort,
fromWhen pruning, zone-map skip, vacuum check) through
``operators/restore.plan_restore_keys``, the planner ``restore_batch`` uses,
so the bulk and DataSource restores open the same objects by construction.

This is the INTEGRATION surface — schema, partitioning and pushdown for
ad-hoc SQL over archives. The JVM-side ``operators/restore.py`` paths
remain the bulk-restore hot path (whole-file text scan + ``from_json``,
no Python in the loop); parity between the two is asserted in
tests/test_backup_restore.py. The batch writer
(``df.write.format("guardian")``) frames its objects with the bulk
writer's framer, operators/backup.frame_array_objects, so both write the
same bytes by construction.
"""

from __future__ import annotations

import base64
import datetime as _dt
import gzip as _gzip
import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA

#: single source of truth for the record shape (incl. nullability)
RECORD_STRUCT = RECORD_SCHEMA


class GuardianObjectPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _from_when(options) -> _dt.datetime | None:
    """The ``fromWhen`` option (ISO-8601) as a datetime; options arrive
    lowercased."""
    text = options.get("fromwhen")
    return _dt.datetime.fromisoformat(text) if text else None


def _object_partitions(path: str, keys: list[str]) -> list[GuardianObjectPartition]:
    """One input partition per planned archive object."""
    import os

    from guardian_for_apache_kafka_spark.operators.backup import physical_name

    return [GuardianObjectPartition(os.path.join(path, physical_name(k))) for k in keys]


def _open_bytes(path: str) -> bytes:
    """Read one archive object. ``scheme://`` paths go through
    ``pyarrow.fs.FileSystem.from_uri`` (the executor-side FS dispatch the
    guardian writer uses, operators/backup.py); bare paths use plain
    open."""
    if "://" in path:
        from guardian_for_apache_kafka_spark.operators.backup import resolve_fs

        fs, inner = resolve_fs(path)
        with fs.open_input_stream(inner) as fh:
            return fh.read()
    with open(path, "rb") as fh:
        return fh.read()


class GuardianReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("guardian datasource requires a path")
        self.from_when = _from_when(options)
        self.use_zonemap = (options.get("zonemap") or "").lower() in ("true", "1")
        # snapshot isolation / time travel (operators/commitlog): pin the
        # object set to a committed version AT PLAN TIME — concurrent
        # commits can no longer change what this scan reads
        self.use_snapshot = (options.get("snapshot") or "").lower() in ("true", "1")
        vaso = options.get("versionasof")
        self.version_as_of = int(vaso) if vaso is not None else None
        self.ts_as_of = options.get("timestampasof")  # ISO; resolved at plan time
        if self.version_as_of is not None and self.ts_as_of:
            # Delta rejects the pair too: neither option may silently win
            raise ValueError("versionAsOf and timestampAsOf are mutually exclusive")
        self.topics: set[str] | None = None
        self.require_key = False
        # inclusive offset window accumulated from pushed comparisons; used
        # ONLY to skip whole objects against the commit log's per-(topic,
        # partition) offset zone maps — the filters themselves are handed
        # back so Spark still row-filters surviving objects
        self.off_lo: int | None = None
        self.off_hi: int | None = None

    def _narrow_offsets(self, lo: int | None, hi: int | None) -> None:
        if lo is not None:
            self.off_lo = lo if self.off_lo is None else max(self.off_lo, lo)
        if hi is not None:
            self.off_hi = hi if self.off_hi is None else min(self.off_hi, hi)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        def narrow(values: set) -> None:
            # filters arrive as a CONJUNCTION: successive topic predicates
            # INTERSECT (overwriting would wrongly widen consumed filters)
            self.topics = values if self.topics is None else (self.topics & values)

        def is_off(f) -> bool:
            return (
                f.attribute == ("offset",)
                and isinstance(f.value, int)
                and not isinstance(f.value, bool)
            )

        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("topic",):
                narrow({f.value})
            elif isinstance(f, In) and f.attribute == ("topic",):
                narrow(set(f.value))  # the In dataclass field is `value`
            elif isinstance(f, IsNotNull) and f.attribute == ("key",):
                self.require_key = True
            elif isinstance(f, GreaterThan) and is_off(f):
                self._narrow_offsets(f.value + 1, None)
                yield f
            elif isinstance(f, GreaterThanOrEqual) and is_off(f):
                self._narrow_offsets(f.value, None)
                yield f
            elif isinstance(f, LessThan) and is_off(f):
                self._narrow_offsets(None, f.value - 1)
                yield f
            elif isinstance(f, LessThanOrEqual) and is_off(f):
                self._narrow_offsets(None, f.value)
                yield f
            elif isinstance(f, EqualTo) and is_off(f):
                self._narrow_offsets(f.value, f.value)
                yield f
            else:
                yield f  # not consumed — Spark applies it post-scan

    def partitions(self) -> Sequence[GuardianObjectPartition]:
        # planning-time listing (or snapshot fold) + R3 pruning + commit-log
        # zone-map skip + vacuum check, all in the shared restore planner
        from guardian_for_apache_kafka_spark.operators.commitlog import version_at_timestamp
        from guardian_for_apache_kafka_spark.operators.restore import plan_restore_keys

        version = self.version_as_of
        if self.ts_as_of:
            version = version_at_timestamp(self.path, self.ts_as_of)
        keys = plan_restore_keys(
            self.path, self.from_when, snapshot=self.use_snapshot, version=version,
            topics=self.topics, offsets=(self.off_lo, self.off_hi),
        )
        if self.use_zonemap and self.topics is not None:
            # topic zone-map pruning (.option("zonemap", "true")): skip whole
            # objects whose recorded topic set misses every pushed topic —
            # object-granular partition pruning, the guardian analogue of
            # parquet row-group stats. OPT-IN because the map is a snapshot:
            # the operator rebuilds it after writes
            # (operators/maintenance.write_topic_zonemap); a missing map is
            # a no-op, a present one must cover every key it prunes.
            import re as _re

            from guardian_for_apache_kafka_spark.operators.maintenance import (
                ZONEMAP_NAME,
            )

            try:
                blob = _open_bytes(f"{self.path.rstrip('/')}/{ZONEMAP_NAME}")
            except (FileNotFoundError, OSError):
                blob = None
            if blob is not None:
                slices = json.loads(blob.decode("utf-8"))["slices"]
                kept = []
                for k in keys:
                    stem = _re.sub(r"\.json(\.gz)?$", "", k)
                    topics = slices.get(stem)
                    if topics is None or set(topics) & self.topics:
                        kept.append(k)  # unknown slices stay (stale-map safety)
                keys = kept
        return _object_partitions(self.path, keys)

    def read(self, partition: GuardianObjectPartition) -> Iterator[tuple]:
        blob = _open_bytes(partition.path)
        if partition.path.endswith(".gz"):
            blob = _gzip.decompress(blob)
        try:
            records = json.loads(blob.decode("utf-8"))
        except ValueError:
            # truncated object without the null] sentinel: the JVM restore
            # path silently skips it (from_json -> null), so the DataSource
            # matches; run scan_corrupt_files / the check verb for loudness
            return
        for rec in records:
            if rec is None:
                continue  # the null] interruption sentinel (SURVEY §1.2)
            topic = rec["topic"]
            if self.topics is not None and topic not in self.topics:
                continue
            key_b64 = rec.get("key")
            if self.require_key and key_b64 is None:
                continue
            yield (
                topic,
                rec["partition"],
                rec["offset"],
                None if key_b64 is None else base64.b64decode(key_b64),
                base64.b64decode(rec["value"]),
                _dt.datetime.fromtimestamp(rec["timestamp"] / 1000.0, _dt.timezone.utc),
                rec["timestamp_type"],
            )


class GuardianDataSource(DataSource):
    """``spark.read.format("guardian")`` after
    :func:`register_guardian_datasource`."""

    @classmethod
    def name(cls) -> str:
        return "guardian"

    def schema(self) -> StructType:
        return RECORD_STRUCT

    def reader(self, schema: StructType) -> GuardianReader:
        return GuardianReader(self.options)

    def streamReader(self, schema: StructType) -> "GuardianStreamReader":
        return GuardianStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "GuardianWriter":
        return GuardianWriter(self.options, overwrite, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "GuardianStreamWriter":
        return GuardianStreamWriter(self.options, schema)


def register_guardian_datasource(spark) -> None:
    """Register the format for the session (idempotent) and enable the
    Python-datasource filter pushdown the reader implements (off by
    default in Spark 4.1; runtime-settable)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GuardianDataSource)


class GuardianStreamReader(DataSourceStreamReader):
    """Streaming half: ``spark.readStream.format("guardian")`` — a
    micro-batch source over the archive's time-sorted object list. The
    offset is simply "objects consumed": the key list is sorted by slice
    time and new slices always sort after consumed ones, so each
    micro-batch reads exactly the objects that appeared since the last
    committed offset (one input partition per object). This gives
    guardian-format archives the streaming restore the JSON-lines layout
    gets from the file source (``streaming/pipeline.stream_restore``);
    pace with the trigger interval.

    Contract: objects are treated as immutable once listed — stream CLOSED
    slices (a ChronoUnitSlice still being appended to would be read once,
    short; stay behind the active slice, exactly like compaction's
    ``before`` discipline)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("guardian datasource requires a path")
        self.from_when = _from_when(options)
        self._listed: list[str] = []

    def _keys(self) -> list[str]:
        from guardian_for_apache_kafka_spark.operators.restore import plan_restore_keys

        self._listed = plan_restore_keys(self.path)
        return self._listed

    def initialOffset(self) -> dict:
        # fromWhen = start behind the R3-pruned prefix instead of slice 0
        # (same semantics as the batch reader's planning-time pruning)
        if not self.from_when:
            return {"consumed": 0}
        from guardian_for_apache_kafka_spark.operators.restore import (
            prune_keys_from_when,
        )

        keys = self._keys()
        return {"consumed": len(keys) - len(prune_keys_from_when(keys, self.from_when))}

    def latestOffset(self) -> dict:
        # monotone by construction: keys only ever append in time order
        return {"consumed": len(self._keys())}

    def partitions(self, start: dict, end: dict) -> Sequence[GuardianObjectPartition]:
        # reuse the listing latestOffset() just took for this batch; relist
        # only if this end outruns it (e.g. replay after restart)
        keys = self._listed if len(self._listed) >= end["consumed"] else self._keys()
        return _object_partitions(self.path, keys[start["consumed"]:end["consumed"]])

    def read(self, partition: GuardianObjectPartition) -> Iterator[tuple]:
        return GuardianReader({"path": self.path}).read(partition)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the checkpoint's offset log


# ---------------------------------------------------------------------------
# Batch writer: df.write.format("guardian").save(dest)
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage  # noqa: E402


class GuardianWriteCommit(WriterCommitMessage):
    """Per-task commit message: the (slice key, staged relative path) pairs
    this task produced."""

    def __init__(self, parts: list):
        self.parts = parts


def _fs_ops(dest: str):
    """(write_bytes, read_bytes, move, delete, rmdir) closures for a bare
    local path or any ``scheme://`` URI pyarrow.fs can dial — the same
    dispatch split as operators/backup._open_slice_output."""
    import os

    if "://" not in dest:
        def write_bytes(rel: str, data: bytes) -> None:
            p = os.path.join(dest, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as fh:
                fh.write(data)

        def read_bytes(rel: str) -> bytes:
            with open(os.path.join(dest, rel), "rb") as fh:
                return fh.read()

        def move(rel_src: str, rel_dst: str) -> None:
            os.replace(os.path.join(dest, rel_src), os.path.join(dest, rel_dst))

        def delete(rel: str) -> None:
            os.remove(os.path.join(dest, rel))

        def rmdir(rel: str) -> None:
            import shutil

            shutil.rmtree(os.path.join(dest, rel), ignore_errors=True)

        return write_bytes, read_bytes, move, delete, rmdir

    from guardian_for_apache_kafka_spark.operators.backup import resolve_fs

    filesystem, base = resolve_fs(dest)
    base = base.rstrip("/")

    def write_bytes(rel: str, data: bytes) -> None:
        parent = f"{base}/{rel}".rsplit("/", 1)[0]
        filesystem.create_dir(parent, recursive=True)
        with filesystem.open_output_stream(f"{base}/{rel}", compression=None) as fh:
            fh.write(data)

    def read_bytes(rel: str) -> bytes:
        with filesystem.open_input_stream(f"{base}/{rel}") as fh:
            return fh.read()

    def move(rel_src: str, rel_dst: str) -> None:
        filesystem.move(f"{base}/{rel_src}", f"{base}/{rel_dst}")

    def delete(rel: str) -> None:
        filesystem.delete_file(f"{base}/{rel}")

    def rmdir(rel: str) -> None:
        try:
            filesystem.delete_dir(f"{base}/{rel}")
        except FileNotFoundError:
            pass

    return write_bytes, read_bytes, move, delete, rmdir


def _wire_json(rec: dict) -> str:
    """Render one wire record dict to the exact bytes Spark's ``to_json``
    emits for core.model.record_to_json_col: compact separators, fixed field
    order, null key rendered as an explicit ``"key":null`` — matching the
    reference's Circe Encoder.forProduct7 + Printer.noSpaces
    (core/.../codecs/Circe.scala:29-38), which always emits all seven
    fields."""
    parts = [f'"topic":{json.dumps(rec["topic"])}']
    parts.append(f'"partition":{rec["partition"]}')
    parts.append(f'"offset":{rec["offset"]}')
    if rec.get("key") is not None:
        parts.append(f'"key":"{rec["key"]}"')
    else:
        parts.append('"key":null')
    parts.append(f'"value":"{rec["value"]}"')
    parts.append(f'"timestamp":{rec["timestamp"]}')
    parts.append(f'"timestamp_type":{rec["timestamp_type"]}')
    return "{" + ",".join(parts) + "}"


def _writer_options(options, schema: StructType) -> tuple:
    """(path, field positions by name, slice period in micros, compression,
    gzip level) for a guardian writer — validated when the writer is built,
    so a bad option fails before any task runs."""
    from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
    from guardian_for_apache_kafka_spark.operators.backup import gzip_level

    path = options.get("path")
    if not path:
        raise ValueError("guardian datasource requires a path")
    # resolve field positions BY NAME from the caller's schema — rows
    # arrive positionally in the caller's column order, and key/value
    # are both binary, so positional assumptions would swap them
    # SILENTLY on a reordered select (review r6 finding)
    fields = [f.name for f in RECORD_SCHEMA.fields]
    names = [f.name for f in schema.fields]
    missing = [f for f in fields if f not in names]
    if missing:
        raise ValueError(
            f"guardian writer needs record columns {tuple(fields)}; "
            f"missing from input schema: {missing}"
        )
    idx = {f: names.index(f) for f in fields}
    unit = (options.get("chronounitslice") or "HOURS").upper()
    period_us = ChronoUnitSlice(unit).period_micros
    compression = options.get("compression")
    if compression not in (None, "gzip"):
        raise ValueError(f"unsupported compression: {compression}")
    level = options.get("compressionlevel")
    return path, idx, period_us, compression, gzip_level(None if level is None else int(level))


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _wire_rows(rows, idx: dict, period_us: int) -> list[dict]:
    """Input rows -> wire record dicts plus ``slice`` and ``json``, sorted by
    (slice, topic, partition, offset) — the order
    operators/backup.frame_array_objects frames."""
    out = []
    for row in rows:
        ts = row[idx["timestamp"]]
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        # integer-exact epoch micros: timedelta normalizes to (days
        # sign-carrying, seconds and microseconds non-negative), so the floor
        # divisions are right before 1970 too (1969-12-31T23:59:59.999Z is -1 ms)
        d = ts - _EPOCH
        us = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
        key = row[idx["key"]]
        val = row[idx["value"]]
        rec = {
            "topic": row[idx["topic"]],
            "partition": row[idx["partition"]],
            "offset": row[idx["offset"]],
            "key": None if key is None else base64.b64encode(bytes(key)).decode(),
            "value": None if val is None else base64.b64encode(bytes(val)).decode(),
            "timestamp": us // 1000,
            "timestamp_type": row[idx["timestamp_type"]],
        }
        rec["json"] = _wire_json(rec)
        rec["slice"] = _EPOCH + _dt.timedelta(microseconds=us // period_us * period_us)
        out.append(rec)
    out.sort(key=lambda r: (r["slice"], r["topic"], r["partition"], r["offset"]))
    return out


class GuardianWriter(DataSourceWriter):
    """Batch write half of the format: ``df.write.format("guardian")
    .option("chronoUnitSlice", "hours").mode(...).save(dest)`` writes the
    guardian archive layout (one JSON array object per slice, wire records
    in (topic, partition, offset) order, optional deterministic gzip) —
    byte-exact against THIS repo's bulk writer,
    operators/backup.write_guardian_format, because both frame objects
    through operators/backup.frame_array_objects; and against the upstream
    reference wire format: a null Kafka key is rendered as an explicit
    ``"key":null``, exactly as the reference's Circe Encoder.forProduct7 +
    Printer.noSpaces emits it (core/.../codecs/Circe.scala:19-38).

    mode('overwrite') is idempotent-converging but NOT job-atomic: each
    slice swap is stage-then-delete (the complete replacement exists in
    staging before the old object is renamed aside — a crash never loses
    both), yet a driver crash mid-commit can leave a mix of old and new
    slices; re-running the identical write converges. True job-level
    atomicity needs a versioned manifest swap on top.

    Scale/commit contract: each task stages each of its slices as a
    finished object (gzip included) under a run-scoped staging dir, and
    the driver commit RENAMES single-part slices into place (a task-failure
    retry never leaves a half-written final object — same atomicity
    discipline as maintenance's rename-swap). A slice spanning multiple
    tasks is decoded, merge-sorted and framed again at commit (driver-side,
    slice-sized): pre-``repartition`` the input by slice to keep commit
    rename-only, plain or gzip — this writer is the INTEGRATION surface;
    the foreachPartition bulk path in operators/backup.py streams slices
    without any driver bytes."""

    def __init__(self, options, overwrite: bool, schema: StructType):
        import uuid

        self.path, self.idx, self.period_us, self.compression, self.level = _writer_options(
            options, schema
        )
        self.overwrite = overwrite
        self.staging = f"_guardian_staging_{uuid.uuid4().hex}"

    def _frame(self, rows, name_of) -> list:
        """Frame sorted wire rows into the staging dir, each object named
        ``name_of(key)``; returns the (slice key, staged path) pairs."""
        from guardian_for_apache_kafka_spark.operators.backup import (
            _ensure_dest_dir,
            _open_slice_output,
            frame_array_objects,
        )

        staging_dir = f"{self.path.rstrip('/')}/{self.staging}"
        parts = []

        def open_part(key: str):
            if not parts:
                _ensure_dest_dir(staging_dir)
            parts.append((key, f"{self.staging}/{name_of(key)}"))
            return _open_slice_output(staging_dir, name_of(key))

        frame_array_objects(rows, open_part, self.compression, self.level)
        return parts

    # -- executor side ------------------------------------------------------
    def write(self, iterator) -> GuardianWriteCommit:
        import uuid

        from guardian_for_apache_kafka_spark.operators.backup import physical_name

        tid = uuid.uuid4().hex[:12]
        rows = _wire_rows(iterator, self.idx, self.period_us)
        return GuardianWriteCommit(
            self._frame(rows, lambda key: f"{tid}__{physical_name(key)}.part")
        )

    # -- driver side ---------------------------------------------------------
    def commit(self, messages) -> None:
        from guardian_for_apache_kafka_spark.core.timeslice import key_to_datetime
        from guardian_for_apache_kafka_spark.operators.backup import (
            _ensure_dest_dir,
            physical_name,
        )
        from guardian_for_apache_kafka_spark.operators.restore import list_backup_keys

        _, read_bytes, move, delete, rmdir = _fs_ops(self.path)
        # an empty write to a fresh destination must commit an empty archive,
        # not crash listing a directory no task created (review r6 finding)
        _ensure_dest_dir(self.path)

        by_key: dict = {}
        for m in messages:
            if m is None:
                continue
            for slice_key, rel in m.parts:
                by_key.setdefault(slice_key, []).append(rel)
        # scheme aliases (s3a/gs) are normalized inside the sessionless
        # list_backup_keys path itself, so every DataSource caller benefits
        existing = set(list_backup_keys(self.path))
        if not self.overwrite:
            clash = sorted(set(by_key) & existing)
            if clash:
                rmdir(self.staging)
                raise ValueError(
                    f"archive objects already exist (append would corrupt "
                    f"slices): {clash[:5]}... — write with mode('overwrite') "
                    f"or to a fresh destination"
                )
        # overwrite ordering (VERDICT r7 #4): STAGE-THEN-DELETE per slice —
        # the complete replacement object is materialized inside the staging
        # dir FIRST; only then is the clashing old object renamed aside, the
        # replacement moved into place, and the aside copy dropped (the same
        # two-rename swap discipline as operators/maintenance's compaction).
        # A crash at any instant leaves the old bytes, the new bytes, or both
        # on disk — never neither (the old delete-then-write ordering had a
        # window where a crash lost both). Old objects with no replacement go
        # LAST. Job-level atomicity would need a manifest swap; see class
        # docstring.
        for slice_key in sorted(by_key):
            rels = sorted(by_key[slice_key])
            phys = physical_name(slice_key)
            if len(rels) == 1:
                staged_final = rels[0]
            else:
                # multi-part slice (input not slice-partitioned): decode the
                # staged parts, merge-sort, frame once more — slice-sized
                start = key_to_datetime(slice_key)
                recs = []
                for rel in rels:
                    blob = read_bytes(rel)
                    if self.compression == "gzip":
                        blob = _gzip.decompress(blob)
                    recs.extend(json.loads(blob.decode("utf-8")))
                recs.sort(key=lambda r: (r["topic"], r["partition"], r["offset"]))
                rows = (
                    {"slice": start, "topic": r["topic"], "partition": r["partition"],
                     "offset": r["offset"], "json": _wire_json(r)}
                    for r in recs
                )
                [(_, staged_final)] = self._frame(rows, lambda _key: f"_final__{phys}")
            if self.overwrite and slice_key in existing:
                aside = f"{self.staging}/_old__{phys}"
                move(phys, aside)
                move(staged_final, phys)
                delete(aside)
            else:
                move(staged_final, phys)
        if self.overwrite:
            for k in sorted(existing - set(by_key)):
                delete(physical_name(k))
        rmdir(self.staging)

    def abort(self, messages) -> None:
        *_, rmdir = _fs_ops(self.path)
        rmdir(self.staging)


from pyspark.sql.datasource import DataSourceStreamWriter  # noqa: E402


class GuardianStreamWriter(DataSourceStreamWriter):
    """Streaming write half of the format: ``df.writeStream
    .format("guardian").option("chronoUnitSlice", "hours")
    .option("checkpointLocation", ...).start(dest)`` appends each
    micro-batch to the ENGINE-NATIVE partitioned JSON-lines archive layout
    (``<dest>/slice=<ISO>/batch-<id>-<query>-<part>.jsonl[.gz]`` — the same layout
    ``stream_backup``'s text sink produces and ``restore_batch(...,
    fmt="json")`` prunes/reads; the reference's single-object-per-slice
    JSON-array format is inherently rewrite-per-batch and stays the BATCH
    writer's contract). Gzip parts honour ``compressionLevel`` (1-9,
    default 6) like every other writer.

    Exactly-once discipline: executors stage each (task, slice) part under
    a run-scoped staging dir (write() never sees the batch id — the
    DataSourceStreamWriter API only reveals it at commit); the driver
    commit FIRST deletes any ``batch-<id>-<query>-*`` files a
    previously-failed attempt of the SAME batch of the SAME query left
    behind, then renames the staged parts to their batch-scoped final
    names — so a crash-replayed micro-batch fully REPLACES its own output
    instead of duplicating it, regardless of how the retry repartitioned
    the data. Object-store safe: every touch goes through the same
    ``_fs_ops`` dispatch as the batch writer (scheme aliases included).

    ``<query>`` is 8 hex chars of the sha1 of the ``checkpointLocation``
    option: the same on every restart that passes the same location,
    distinct between checkpoints, so several queries may write overlapping slices of one
    destination without deleting each other's files. A query whose
    checkpoint comes from ``spark.sql.streaming.checkpointLocation``
    instead of the option gets no such identity (the writer's options do
    not carry it): one such query per destination.

    Cites the reference's commit-after-upload resume contract
    (core-backup/.../BackupClientInterface.scala:375-398): Spark's
    checkpoint plays the offset log, this commit plays the terminating
    upload."""

    def __init__(self, options, schema: StructType):
        import hashlib
        import uuid

        self.path, self.idx, self.period_us, self.compression, self.level = _writer_options(
            options, schema
        )
        self.staging = f"_guardian_stream_staging_{uuid.uuid4().hex}"
        checkpoint = options.get("checkpointlocation") or ""
        self.query = hashlib.sha1(checkpoint.encode()).hexdigest()[:8]

    # -- executor side -------------------------------------------------------
    def write(self, iterator) -> GuardianWriteCommit:
        import itertools
        import uuid

        write_bytes, *_ = _fs_ops(self.path)
        tid = uuid.uuid4().hex
        parts = []
        rows = _wire_rows(iterator, self.idx, self.period_us)
        for start, group in itertools.groupby(rows, key=lambda r: r["slice"]):
            payload = ("\n".join(r["json"] for r in group) + "\n").encode()
            if self.compression == "gzip":
                payload = _gzip.compress(payload, self.level, mtime=0)
            slice_val = start.strftime("%Y-%m-%dT%H:%M:%S") + "Z"
            rel = f"{self.staging}/{tid}__{_quote(slice_val)}.part"
            write_bytes(rel, payload)
            parts.append((slice_val, rel))
        return GuardianWriteCommit(parts)

    # -- driver side -----------------------------------------------------------
    def commit(self, messages, batchId: int) -> None:
        from guardian_for_apache_kafka_spark.operators.backup import _ensure_dest_dir
        from guardian_for_apache_kafka_spark.operators.restore import _list_names

        write_bytes, read_bytes, move, delete, rmdir = _fs_ops(self.path)
        _ensure_dest_dir(self.path)
        parts = [p for m in messages if m is not None for p in m.parts]
        suffix = ".jsonl.gz" if self.compression == "gzip" else ".jsonl"
        prefix = f"batch-{batchId:010d}-{self.query}-"
        # a failed attempt of THIS batch may have committed some files with
        # a different task layout: remove this query's batch-<id>-* first so
        # the replay REPLACES rather than duplicates
        touched = sorted({f"slice={_quote(sv)}" for sv, _ in parts})
        for sdir in touched:
            try:
                names = _list_names(f"{self.path.rstrip('/')}/{sdir}", None)
            except (FileNotFoundError, OSError):
                continue
            for n in names:
                if n.startswith(prefix):
                    delete(f"{sdir}/{n}")
        for i, (slice_val, rel) in enumerate(sorted(parts, key=lambda p: (p[0], p[1]))):
            sdir = f"slice={_quote(slice_val)}"
            _ensure_dest_dir(f"{self.path.rstrip('/')}/{sdir}")
            move(rel, f"{sdir}/{prefix}{i:05d}{suffix}")
        for staging in _staging_dirs(messages):
            rmdir(staging)

    def abort(self, messages, batchId: int) -> None:
        *_, rmdir = _fs_ops(self.path)
        for staging in _staging_dirs(messages):
            rmdir(staging)


def _staging_dirs(messages) -> set[str]:
    """The staging dirs named by the tasks' staged paths (each task staged
    through its own unpickled writer, so ``self.staging`` is not theirs)."""
    return {rel.split("/", 1)[0] for m in messages if m is not None for _, rel in m.parts}


def _quote(value: str) -> str:
    """Escape a slice partition VALUE exactly as Spark's partitioned file
    sink does (ExternalCatalogUtils.escapePathName: ':' and friends become
    %XX), so native readers infer the same partition values."""
    import urllib.parse

    return urllib.parse.quote(value, safe="")
