"""Restore: archive objects -> records -> Kafka-producible rows.

Reference semantics (SURVEY.md §2.1 R1-R7, /root/reference citations inline):
- list keys, parse slice time from the key (Utils.scala:8-26), sort by time
  (RestoreClientInterface.scala:50-58);
- fromWhen pruning KEEPS ONE SLICE BEFORE the cutoff — that slice may straddle
  it (RestoreClientInterface.scala:60-79: ``indexWhere(time >= picked)`` then
  ``splitAt(index - 1)``; when no key is >= the cutoff, only the LAST key is
  kept);
- per-record filters: topic ∈ configured set AND time >= fromWhen AND drop the
  ``null`` interrupted-stream sentinel (RestoreClientInterface.scala:83-91,
  :115-120);
- producer mapping: topic rename via map-with-fallback, Base64-decode
  key/value, null key passes through (core-restore/.../KafkaProducer.scala:32-53).

Scale note: the reference materializes the full key list in driver memory
(RestoreClientInterface.scala:104-123 — a List). Here only *slice partition
values* (one per slice, bounded by time-range/period) ever reach the driver;
record data flows executor-side. On the engine-native layout pruning is
partition pruning Catalyst applies from a ``slice >=`` predicate.

``plan_restore_keys`` is the one archive read planner: ``restore_batch`` and
the ``guardian`` DataSource readers (sources/guardian_source.py) both decide
which objects to open through it, listing or commit-log snapshot alike.
"""

from __future__ import annotations

import datetime as _dt
import urllib.parse as _urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.core.model import (
    RECORD_JSON_SCHEMA_DDL,
    RECORD_SCHEMA,
    parsed_json_to_record_cols,
)
from guardian_for_apache_kafka_spark.core.timeslice import key_to_datetime, slice_sort_key
from guardian_for_apache_kafka_spark.operators import commitlog
from guardian_for_apache_kafka_spark.operators.backup import (
    logical_name,
    physical_name,
    resolve_fs,
)


def _list_names(dest: str, spark: SparkSession | None) -> list[str]:
    """Child entry names of ``dest``. With a session, listing goes through the
    Hadoop FS API — the storage-API listing the reference does for S4
    (restore-s3/.../RestoreClient.scala:33-43 ``S3.listBucket``) — so any
    supported scheme (file://, s3a://, gs://, ...) works; without one
    (sessionless planning, e.g. the Python DataSource) it goes through
    ``backup.resolve_fs``, the dispatch the guardian writer's executors use."""
    if spark is None:
        from pyarrow.fs import FileSelector

        fs, inner = resolve_fs(dest)
        return [info.base_name for info in fs.get_file_info(FileSelector(inner))]
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(dest)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return [str(s.getPath().getName()) for s in fs.listStatus(path)]


def list_backup_keys(dest: str, spark: SparkSession | None = None) -> list[str]:
    """R2: logical slice keys sorted by their parsed time. Decodes both on-disk
    escapings: guardian-format files use ``_`` for ``:`` (see
    backup.physical_name); Spark partition directories URL-encode
    (``slice=2024-01-01T00%3A00%3A00Z``). Pass ``spark`` to list through the
    Hadoop FS API (object-store URIs)."""
    names = []
    for n in _list_names(dest, spark):
        if n.startswith(("_", ".")):
            continue
        if n.startswith("slice="):
            n = "slice=" + _urlparse.unquote(n[len("slice=") :])
        else:
            n = logical_name(n)
        try:
            # the name tie-break keeps multi-object slices in a fixed order,
            # not the filesystem's listing order
            names.append(slice_sort_key(n))
        except ValueError:
            continue
    return [n for _, n in sorted(names)]


def prune_keys_from_when(keys: list[str], from_when: _dt.datetime) -> list[str]:
    """R3: drop keys strictly before the slice *preceding* the cutoff.

    Mirrors RestoreClientInterface.scala:60-79: find the first key with
    time >= fromWhen and keep from (index - 1); if every key is earlier, keep
    only the last slice (it may still straddle); index 0 keeps everything.

    Multi-object slices (round 11): the commit layer's streaming sink puts
    SEVERAL objects at one slice time (``<ISO>.b<batch>.json``), so "the
    preceding slice" means every key SHARING that slice time — keeping just
    one tied key would silently drop the other batches' straddling records.
    The reference never has tied keys, so this is a strict generalization.
    """
    if not keys:
        return []
    if from_when.tzinfo is None:
        # slice keys parse tz-aware (ISO offset); interpret naive cutoffs as
        # UTC — the reference's epoch-millis-as-UTC convention
        from_when = from_when.replace(tzinfo=_dt.timezone.utc)
    times = [key_to_datetime(k) for k in keys]
    idx = next((i for i, t in enumerate(times) if t >= from_when), None)
    if idx is None:
        straddle_t = times[-1]
    elif idx == 0:
        return keys
    else:
        straddle_t = times[idx - 1]
    first = next(i for i, t in enumerate(times) if t == straddle_t)
    return keys[first:]


def zone_map_may_match(
    ranges: dict | None,
    topics: set | None,
    off_lo: int | None,
    off_hi: int | None,
) -> bool:
    """Object-skip decision for commit-log zone maps: False ONLY when the
    recorded per-(topic, partition) offset ranges PROVE no row can satisfy
    the pushed topic set and inclusive offset window. Missing or empty
    ranges keep the object (stale-safety) — soundness over completeness."""
    if not ranges:
        return True
    for tp, (lo, hi) in ranges.items():
        if topics is not None and tp.rsplit("/", 1)[0] not in topics:
            continue
        if off_lo is not None and hi < off_lo:
            continue
        if off_hi is not None and lo > off_hi:
            continue
        return True
    return False


def plan_restore_keys(
    dest: str,
    from_when: _dt.datetime | None = None,
    *,
    snapshot: bool = False,
    version: int | None = None,
    topics: set[str] | None = None,
    offsets: tuple[int | None, int | None] = (None, None),
    spark: SparkSession | None = None,
) -> list[str]:
    """The archive objects a restore opens, in slice order — the one read
    planner behind ``restore_batch`` and the guardian DataSource readers:

    1. list ``dest`` (through the Hadoop FS API when ``spark`` is given) or,
       with ``snapshot=True`` / ``version=N``, fold the commit log once at
       that version (default: latest) — orphans stay invisible;
    2. sort by slice time;
    3. R3-prune from ``from_when`` (``prune_keys_from_when``);
    4. snapshot reads only: skip objects whose commit-log offset zone maps
       prove no row matches ``topics`` and the inclusive ``offsets`` window
       (``zone_map_may_match``; callers still filter the rows);
    5. snapshot reads only: fail with a vacuum diagnosis if a kept object's
       bytes are gone at the pinned version.
    """
    if not snapshot and version is None:
        keys = list_backup_keys(dest, spark)
        return keys if from_when is None else prune_keys_from_when(keys, from_when)
    snap = commitlog.snapshot(dest, version)
    files = snap["files"]
    keys = sorted(files, key=slice_sort_key)
    if from_when is not None:
        keys = prune_keys_from_when(keys, from_when)
    keys = [k for k in keys if zone_map_may_match(files[k].get("offsets"), topics, *offsets)]
    commitlog.ensure_snapshot_objects_present(dest, keys, snap["version"])
    return keys


def _straddle_bound(
    spark: SparkSession, roots: list[str], from_when: _dt.datetime
) -> _dt.datetime | None:
    """Lower bound on the ``slice`` partition value a ``from_when`` restore
    must scan: the earliest root's straddle slice. Taking the min over
    multi-instance roots is conservative (every root shares the cutoff) but
    still prunes every slice older than the earliest straddler."""
    plans = [plan_restore_keys(root, from_when, spark=spark) for root in roots]
    return min((key_to_datetime(keys[0]) for keys in plans if keys), default=None)


#: Hadoop glob metacharacters an object name can carry; ``pathGlobFilter``
#: would read them as pattern syntax (GlobPattern), so they are escaped.
_GLOB_SPECIAL = frozenset("\\{}[]*?,")


def _open_objects(spark: SparkSession, root: str, keys: list[str] | None) -> DataFrame:
    """One row per archive object under ``root``: its whole (gunzipped)
    text in ``value``. ``root`` is listed once, on the driver, and a
    ``pathGlobFilter`` alternation of the escaped physical names keeps
    exactly ``keys`` (``None``: every object). Handing Spark one path per
    object instead would list them with a distributed job past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths and
    read each path as a glob, so ``[``, ``{`` or ``*`` in a name break it."""
    reader = spark.read
    if keys is not None:
        names = (
            "".join("\\" + c if c in _GLOB_SPECIAL else c for c in physical_name(k))
            for k in keys
        )
        reader = reader.option("pathGlobFilter", "{" + ",".join(names) + "}")
    return reader.text(root, wholetext=True)


def read_guardian_files(
    spark: SparkSession, root: str, keys: list[str] | None = None
) -> DataFrame:
    """R4+R5: parse the reference-format backup objects ``keys`` (logical
    names; ``None``: every object) under ``root`` — JSON arrays, possibly
    ``null``-terminated, possibly .gz — into the internal record schema.

    The one object opener: every whole-object read of guardian objects in
    ``operators/`` goes through here (``scan_corrupt_files`` shares its
    ``_open_objects`` to see the unparsed text). Building the read launches
    no Spark job at any object count, ``inputFiles()`` is exactly the
    requested objects, and other files under ``root`` are never opened.
    ``spark.read.text`` handles the gzip codec transparently; each
    whole-file array is parsed JVM-side with ``from_json`` + ``explode``
    and the null sentinel dropped (R6's ``rec IS NOT NULL``) — no Python
    per-record work. Per-object columns such as ``input_file_name()`` may
    be selected on the result.
    """
    if keys is not None and not keys:
        return spark.createDataFrame([], RECORD_SCHEMA)
    rec = F.explode(
        F.from_json(F.col("value"), f"array<struct<{RECORD_JSON_SCHEMA_DDL}>>")
    ).alias("rec")
    return (
        _open_objects(spark, root, keys)
        .select(rec)
        .where(F.col("rec").isNotNull())
        .select(*parsed_json_to_record_cols(F.col("rec")))
    )


def instance_roots(spark: SparkSession, dest: str) -> list[str]:
    """Per-instance archive roots under a shared destination (the
    concurrent-backup layout, streaming/pipeline.stream_backup
    ``instance_id``): every child directory not hidden by the ``_``/``.``
    convention. Hadoop-FS listing, so any supported scheme works."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(dest)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return sorted(
        str(s.getPath()) for s in fs.listStatus(path)
        if s.isDirectory() and not s.getPath().getName().startswith(("_", "."))
    )


def read_backup_jsonl(spark: SparkSession, dest: str, instances: bool = False) -> DataFrame:
    """Read the engine-native partitioned JSON-lines archive back to records,
    keeping the ``slice`` partition column for pruning.

    ``instances=True`` reads a multi-instance archive — per-instance roots
    under ``dest`` (``dest/<instance>/slice=*``), the layout concurrent
    backup instances write (streaming/pipeline.py concurrency note) — as a
    union of per-root scans (partition discovery forbids non-``key=value``
    intermediate directories under one basePath); slice pruning applies per
    root. Root listing goes through the Hadoop FS API, so any supported
    scheme (file://, s3a://, ...) works."""
    if instances:
        roots = instance_roots(spark, dest)
        if not roots:
            raise ValueError(f"no instance roots under {dest}")
        out = read_backup_jsonl(spark, roots[0])
        for r in roots[1:]:
            out = out.unionByName(read_backup_jsonl(spark, r))
        return out
    raw = spark.read.format("text").option("basePath", dest).load(f"{dest}/slice=*")
    rec = F.from_json(F.col("value"), RECORD_JSON_SCHEMA_DDL).alias("rec")
    return (
        raw.select(rec, F.col("slice"))
        # a corrupt line parses (PERMISSIVE struct mode) to all-null fields;
        # topic is non-null in every legitimate record and the JSON-lines
        # format has no null sentinel, so topic-null = corruption — dropped
        # here (same rule as stream_restore), and the loss stays loud via
        # audit_archive, which reports the record as missing vs the source
        .where(F.col("rec.topic").isNotNull())
        .select(
            *parsed_json_to_record_cols(F.col("rec")), F.to_timestamp("slice").alias("slice")
        )
    )


def scan_corrupt_files(spark: SparkSession, source: str) -> DataFrame:
    """Parse-integrity check for a guardian-format archive: files whose JSON
    array parse yields ZERO records despite non-trivial content.

    Documented divergence this guards: the reference's streaming parser
    (jawn AsyncParser, RestoreClientInterface.scala:104-120) THROWS on a
    corrupt object and aborts the restore; ``from_json`` returns null, so
    the engine's restore silently skips an unparseable file. Run this before
    (or after) a restore to fail loudly instead: each returned row is a file
    the reference would have rejected. Executor-side parse, one row per
    file — nothing but (path, bytes, parsed count) reaches the driver."""
    keys = list_backup_keys(source, spark)
    if not keys:
        return spark.createDataFrame([], "path string, bytes long, parsed_records long")
    raw = _open_objects(spark, source, keys).select(
        F.input_file_name().alias("path"),
        F.length("value").cast("long").alias("bytes"),
        F.coalesce(
            F.size(
                F.filter(
                    F.from_json(F.col("value"), f"array<struct<{RECORD_JSON_SCHEMA_DDL}>>"),
                    lambda r: r.isNotNull(),
                )
            ),
            F.lit(-1),
        ).cast("long").alias("parsed_records"),
    )
    # from_json yields NULL for an unparseable array (coalesced to -1 here);
    # "[]"/"[null]" parse to 0 — an empty slice is legitimate, a parse
    # failure with real bytes is not
    return raw.where(
        (F.col("parsed_records") <= 0) & (F.col("bytes") > F.lit(8))
    ).select("path", "bytes", F.greatest("parsed_records", F.lit(0)).alias("parsed_records"))


def scan_corrupt_jsonl(spark: SparkSession, dest: str) -> DataFrame:
    """JSON-lines twin of ``scan_corrupt_files``: per-line parse check over
    a ``slice=`` archive — a line whose record parse yields a NULL topic is
    corrupt (topic is non-null in every legitimate record and the wire
    format has no null sentinel; same rule read_backup_jsonl uses to DROP
    such lines silently at restore). Returns one row per damaged file
    (path, n_lines, corrupt_lines) so the loss is loud BEFORE a restore
    silently skips it. Executor-side; only damaged-file rows reach the
    driver."""
    raw = spark.read.format("text").option("basePath", dest).load(f"{dest}/slice=*")
    rec = F.from_json(F.col("value"), RECORD_JSON_SCHEMA_DDL)
    per_file = (
        raw.select(
            F.input_file_name().alias("path"),
            rec["topic"].isNull().cast("int").alias("__bad"),
        )
        .groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("__bad").cast("long").alias("corrupt_lines"),
        )
        .where(F.col("corrupt_lines") > 0)
    )
    return per_file


def restore_batch(
    spark: SparkSession,
    source: str,
    topics: set[str] | None = None,
    from_when: _dt.datetime | None = None,
    fmt: str = "guardian",
    instances: bool = False,
    snapshot: bool = False,
    version: int | None = None,
) -> DataFrame:
    """Full restore read: prune slices (R3), parse (R4/R5), filter records (R6).

    fmt="guardian": reference-format array files, planned by
    ``plan_restore_keys``. fmt="json"/"parquet"/"orc": engine-native
    partitioned archives (pruning via a ``slice >=`` straddle-bound
    predicate — Catalyst partition pruning, the scan never opens pruned
    directories). ``instances=True`` (json only): per-instance roots under
    ``source`` (the concurrent-backup layout).

    ``snapshot=True`` / ``version=N`` (guardian format, commit-log archives —
    operators/commitlog): restore from a pinned committed snapshot instead of
    the directory listing — a crashed writer's orphans stay invisible, a
    concurrent commit cannot change the object set mid-restore, ``version``
    makes the restore point-in-time (the bulk-path twin of the DataSource's
    ``versionAsOf`` read), and ``topics`` also skips whole objects by the
    commit log's zone maps.

    A guardian archive with no object to read restores to an empty
    ``RECORD_SCHEMA`` frame.
    """
    if (snapshot or version is not None) and fmt != "guardian":
        raise ValueError("snapshot/version restore requires fmt='guardian'")
    if instances and fmt != "json":
        raise ValueError("instances=True requires fmt='json'")
    if fmt == "guardian":
        keys = plan_restore_keys(
            source, from_when, snapshot=snapshot, version=version, topics=topics, spark=spark
        )
        records = read_guardian_files(spark, source, keys)
    elif fmt in ("json", "parquet", "orc"):
        # the -1-slice straddle is handled record-exact by the timestamp
        # filter below; partition pruning needs only a lower bound
        if fmt == "json":
            records = read_backup_jsonl(spark, source, instances=instances)
        else:
            records = getattr(spark.read, fmt)(source)
        if from_when is not None:
            roots = instance_roots(spark, source) if instances else [source]
            bound = _straddle_bound(spark, roots, from_when)
            if bound is not None:
                records = records.where(F.col("slice") >= F.lit(bound))
        records = records.drop("slice")
    else:
        raise ValueError(f"unsupported restore format: {fmt}")
    if topics is not None:
        records = records.where(F.col("topic").isin(*sorted(topics)))
    if from_when is not None:
        records = records.where(F.col("timestamp") >= F.lit(from_when))
    return records


def audit_archive(
    spark: SparkSession,
    records: DataFrame,
    source: str,
    fmt: str = "json",
    instances: bool = False,
) -> DataFrame:
    """Backup-integrity audit: records present at the source but missing from
    the archive, matched on record identity (topic, partition, offset) via a
    left-anti join. The archive side projects identity columns only, so the
    join shuffles 3 narrow columns per side regardless of payload size. The
    streaming twin is ``streaming.pipeline.stream_audit_join`` (no reference
    twin — Guardian has no audit path at all)."""
    archived = restore_batch(spark, source, fmt=fmt, instances=instances).select(
        "topic", "partition", "offset"
    )
    return records.join(archived, ["topic", "partition", "offset"], "left_anti")


def restore_to_producer_records(
    records: DataFrame, override_topics: dict[str, str] | None = None
) -> DataFrame:
    """K5: map restored records to Kafka-producer shape — topic rename with
    fallback, raw bytes for key/value, null key passthrough
    (KafkaProducer.scala:32-53). The result is exactly what
    ``df.write.format("kafka")`` expects."""
    topic = F.col("topic")
    if override_topics:
        m = F.create_map(*[F.lit(x) for kv in override_topics.items() for x in kv])
        topic = F.coalesce(F.element_at(m, F.col("topic")), F.col("topic"))
    return records.select(
        topic.alias("topic"),
        F.col("key"),
        F.col("value"),
        F.col("timestamp"),
    )
