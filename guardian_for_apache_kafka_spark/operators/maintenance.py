"""Archive maintenance: small-file compaction.

Streaming archival writes one-or-more files per slice per micro-batch; at a
1-minute trigger over a day that is ~1440 files per slice directory — the
classic small-files problem (NameNode/object-store listing pressure, task
overhead per file at read time). ``compact_archive_slices`` rewrites slice
directories into a bounded file count, preserving the record set and the
``slice=`` partition layout so restore-side pruning is untouched.

All filesystem access goes through the Hadoop FS API (the storage-API listing
the reference does, restore-s3/.../RestoreClient.scala:33-43), so the same
code maintains ``file://``, ``hdfs://``, ``s3a://``, ``gs://`` archive roots
— matching ``restore.list_backup_keys``.

Safety: the rewrite stages into ``<dest>/_compacting`` then swaps each slice
directory via two renames. The swap is never a MIX of old and new records,
but there is a crash window between the two renames where the slice's data
exists only under ``_old_<slice>`` — a name the ``_`` convention hides from
readers, so the slice is unavailable (not lost) until recovery. Each run
therefore begins by reconciling leftovers: a ``_old_<slice>`` whose slice
directory is missing is renamed back (completing the interrupted rollback),
one whose slice directory exists is deleted (the install had completed; the
leftover is the already-replaced copy), and a stale ``_compacting`` staging
tree is removed. Rename is atomic on file/HDFS/ABFS; on S3A it is a
server-side copy (O(data), still all-or-nothing per directory listing epoch)
— acceptable for an offline maintenance job. Do not run concurrently with an
active writer on the same slices (compact closed slices only — pass
``before`` to bound).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import SparkSession

from guardian_for_apache_kafka_spark.core.timeslice import key_to_datetime


def describe_archive(spark: SparkSession, dest: str, instances: bool = False) -> "DataFrame":
    """Per-slice inventory of a JSON-lines archive: file count and bytes from
    FileSystem metadata (no data read), record count from ONE scan grouped by
    the slice partition column. The small-files pressure this surfaces is
    exactly what ``compact_archive_slices`` fixes — run describe, compact,
    describe again.

    The metadata/record join is on the slice TIMESTAMP (directory value
    parsed with ``key_to_datetime`` vs the archive's ``slice`` column), not a
    reformatted string — second- and millisecond-granularity slice layouts
    (``PeriodFromFirst`` writes millisecond directory names) reconcile
    exactly, and two sub-second slices in one second can't collide.

    ``instances=True`` describes a multi-writer archive (per-instance roots,
    the layout ``stream_backup(instance_id=...)`` writes) — one row per
    (instance, slice), with an ``instance`` column prepended. A single-root
    describe on such an archive raises with that hint instead of silently
    reporting nothing.

    Driver-side work is bounded by slice count (one listStatus per slice);
    record counting is a partition-pruned columnar count, executor-side."""
    import urllib.parse as _url

    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.operators.restore import (
        instance_roots,
        read_backup_jsonl,
    )

    if instances:
        roots = instance_roots(spark, dest)
        if not roots:
            raise ValueError(f"no instance roots under {dest}")
        out = None
        for r in roots:
            name = r.rstrip("/").rsplit("/", 1)[-1]
            part = describe_archive(spark, r).withColumn("instance", F.lit(name))
            out = part if out is None else out.unionByName(part)
        return out.select("instance", "slice", "n_files", "bytes", "n_records").orderBy(
            "instance", "slice"
        )

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(dest)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    rows = []
    for status in fs.listStatus(root):
        physical = str(status.getPath().getName())
        if not physical.startswith("slice=") or not status.isDirectory():
            continue
        files = [
            f for f in fs.listStatus(status.getPath())
            if not str(f.getPath().getName()).startswith(("_", "."))
        ]
        value = _url.unquote(physical[len("slice=") :])
        rows.append((value, key_to_datetime(value), len(files), sum(f.getLen() for f in files)))
    if not rows:
        from guardian_for_apache_kafka_spark.operators.backup import logical_name

        gfiles = []
        for status in fs.listStatus(root):
            name = str(status.getPath().getName())
            if not status.isFile() or name.startswith(("_", ".")):
                continue
            try:
                key_to_datetime(logical_name(name))  # ':' stored as '_' on disk
            except Exception:
                continue
            gfiles.append((logical_name(name), status.getLen()))
        if gfiles:
            return _describe_guardian_files(spark, dest, gfiles)
        hint = instance_roots(spark, dest)
        if hint:
            raise ValueError(
                f"no slice= directories directly under {dest}, but child roots "
                f"{[h.rsplit('/', 1)[-1] for h in hint]} exist — a multi-writer "
                "(instance-id) archive; call describe_archive(..., instances=True)"
            )
        raise ValueError(
            f"{dest} has neither slice= directories (JSON-lines layout) nor "
            "time-keyed guardian objects — not an archive this engine wrote"
        )
    meta = spark.createDataFrame(
        rows, "slice string, __slice_ts timestamp, n_files int, bytes long"
    )
    counts = (
        read_backup_jsonl(spark, dest)
        .groupBy(F.col("slice").alias("__slice_ts"))
        .agg(F.count("*").alias("n_records"))
    )
    return meta.join(counts, "__slice_ts", "left").select(
        "slice", "n_files", "bytes", F.coalesce("n_records", F.lit(0)).alias("n_records")
    ).orderBy("slice")


def _object_key_col() -> "Column":
    """Logical key (``<ISO>.json[.gz]``) of the object a
    ``read_guardian_files`` row was parsed from. ``input_file_name()`` yields
    a URI: percent-encodable characters in the object name (space, '%', '#')
    arrive escaped and would never match the FileSystem listing's
    logical_name() key (ADVICE r5). So the basename is decoded — protecting
    literal '+' (legal in a URI path, but URLDecoder would turn it into a
    space; ISO offset keys contain it) by pre-escaping to %2B — with the raw
    basename as fallback if the URI is unescaped; then physical '_' ->
    logical ':' (backup.logical_name)."""
    from pyspark.sql import functions as F

    basename = F.element_at(F.split(F.input_file_name(), "/"), -1)
    decoded = F.coalesce(
        F.expr(
            "try_url_decode(replace(element_at(split(input_file_name(), '/'), -1),"
            " '+', '%2B'))"
        ),
        basename,
    )
    return F.translate(decoded, "_", ":")


def _object_slice_col() -> "Column":
    """``_object_key_col`` without its ``.json[.gz]`` extension."""
    from pyspark.sql import functions as F

    return F.regexp_replace(_object_key_col(), r"\.json(\.gz)?$", "")


def _describe_guardian_files(spark: SparkSession, dest: str, gfiles) -> "DataFrame":
    """Inventory branch for the reference's own layout (flat time-keyed JSON
    array objects, possibly .gz): one row per object key, record counts from
    ONE whole-file parse pass grouped by file — the describe verb works on
    archives written by EITHER the engine-native JSON-lines writer or the
    byte-exact guardian-format writer (caught by the round-5 CLI smoke:
    this case previously returned silently empty)."""
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.operators.restore import read_guardian_files

    meta = spark.createDataFrame(
        [(name, 1, size) for name, size in gfiles],
        "slice string, n_files int, bytes long",
    )
    counts = (
        read_guardian_files(spark, dest, [name for name, _ in gfiles])
        .select(_object_key_col().alias("slice"))
        .groupBy("slice")
        .agg(F.count("*").alias("n_records"))
    )
    return (
        meta.join(counts, "slice", "left")
        .select(
            "slice", "n_files", "bytes",
            F.coalesce("n_records", F.lit(0)).alias("n_records"),
        )
        .orderBy("slice")
    )


def compact_archive_slices(
    spark: SparkSession,
    dest: str,
    files_per_slice: int = 1,
    before: _dt.datetime | None = None,
    min_files: int = 2,
) -> list[str]:
    """Rewrite JSON-lines slice directories with more than ``min_files`` data
    files down to ``files_per_slice`` files each. Only slices strictly before
    ``before`` (closed slices) are touched when given. Returns compacted keys.

    ``dest`` may be a bare local path or any Hadoop-FS URI (``file://``,
    ``s3a://``, ...) — listing, staging, and the swap all go through the
    destination's FileSystem.

    Scale shape: all eligible slices of one compression flavor are rewritten in
    ONE Spark job (union of slice scans, ``repartition`` on the slice value,
    ``partitionBy`` write) — a day of 1-minute micro-batches is one job, not
    1440 sequential ones. Gzip slices are rewritten gzip (codec detected from
    the existing part-file suffixes) so maintenance never silently changes the
    archive's compression.
    """
    import urllib.parse as _url

    from pyspark.sql import functions as F

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(dest)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    # 0. Reconcile leftovers from an interrupted previous run (see module
    #    docstring): finish interrupted rollbacks, drop superseded copies and
    #    stale staging, so this run's renames never collide with debris.
    for status in fs.listStatus(root):
        name = str(status.getPath().getName())
        if name == "_compacting":
            fs.delete(status.getPath(), True)
        elif name.startswith("_old_slice="):
            original = hpath(root, name[len("_old_") :])
            if fs.exists(original):
                # crash after install, before cleanup: the new directory is
                # complete; the leftover is the replaced copy
                fs.delete(status.getPath(), True)
            elif not fs.rename(status.getPath(), original):
                raise IOError(
                    f"cannot restore interrupted-compaction leftover {name}; "
                    "resolve manually before compacting"
                )

    # 1. Driver-side listing (bounded: one status per slice + per data file):
    #    find eligible slices, grouped by compression flavor.
    groups: dict[str | None, list[tuple[str, str, object]]] = {}  # codec -> (physical, value, path)
    for status in sorted(fs.listStatus(root), key=lambda s: str(s.getPath().getName())):
        physical = str(status.getPath().getName())
        if not physical.startswith("slice="):
            continue  # guardian-format single files are already one object
        # on-disk partition dirs are URL-encoded; keys are logical
        value = _url.unquote(physical[len("slice=") :])
        key = "slice=" + value
        if before is not None and key_to_datetime(key) >= before:
            continue
        if not status.isDirectory():
            continue
        slice_path = status.getPath()
        data_files = [
            str(f.getPath().getName())
            for f in fs.listStatus(slice_path)
            if not str(f.getPath().getName()).startswith(("_", "."))
        ]
        if len(data_files) < max(min_files, files_per_slice + 1):
            continue
        codec = "gzip" if any(f.endswith(".gz") for f in data_files) else None
        groups.setdefault(codec, []).append((physical, value, slice_path))

    # 2. One job per compression flavor: union the slice scans, co-locate each
    #    slice's rows, write the whole staged tree with partitionBy.
    compacted: list[str] = []
    for codec, slices in groups.items():
        df = None
        for _physical, value, slice_path in slices:
            part = (
                spark.read.format("text")
                .load(str(slice_path))
                .withColumn("slice", F.lit(value))
            )
            df = part if df is None else df.unionByName(part)
        if files_per_slice <= 1:
            df = df.repartition("slice")
        else:
            df = df.repartition(F.col("slice"), F.pmod(F.xxhash64("value"), F.lit(files_per_slice)))
        staged_root = hpath(root, "_compacting")
        writer = df.write.mode("overwrite").format("text").partitionBy("slice")
        if codec:
            writer = writer.option("compression", codec)
        writer.save(str(staged_root))
        # 3. Per-slice swap out of the staged tree (two renames; crash leaves
        #    either _old_<slice> or the new directory, never a mix).
        for physical, value, slice_path in slices:
            staged = hpath(staged_root, physical)
            if not fs.exists(staged):  # encoding mismatch safety net
                continue
            old = hpath(root, f"_old_{physical}")
            if not fs.rename(slice_path, old):
                raise IOError(f"compaction swap failed renaming {slice_path} aside")
            if not fs.rename(staged, slice_path):
                fs.rename(old, slice_path)  # roll back; archive unchanged
                raise IOError(f"compaction swap failed installing staged {staged}")
            fs.delete(old, True)
            compacted.append("slice=" + value)
        fs.delete(staged_root, True)
    return sorted(compacted)


def forget_keys(
    spark: SparkSession,
    dest: str,
    keys: list,
    key_encoding: str = "raw",
) -> list[str]:
    """Right-to-be-forgotten erasure over a JSON-lines archive: drop every
    record whose Kafka key matches one of ``keys``, rewriting ONLY the
    slice directories that actually contain such records and leaving every
    surviving record's bytes untouched (survivor LINES are copied verbatim
    — no parse/re-serialize round trip, so unaffected records stay
    byte-identical for digest-based audits).

    No reference twin: guardian has no erasure path — yet GDPR Article 17
    against an immutable archive is exactly the operational gap a backup
    tool's operators hit first. This is the compaction machinery
    (`compact_archive_slices`) pointed at erasure: same staging tree, same
    two-rename atomic swap per slice, same crash-leftover reconciliation
    convention (``_old_<slice>``; an interrupted run is repaired by the
    next maintenance pass). Gzip slices rewrite gzip.

    ``keys``: raw bytes/str (``key_encoding="raw"``, encoded to the wire
    format's Base64 here) or already-Base64 strings (``"base64"``).
    Records with NULL keys are never dropped. Returns the affected logical
    slice keys. Scale shape: ONE scan parsing only the key field finds
    affected slices (the affected list is slice-count-bounded); the
    rewrite is one staged job over affected slices only."""
    import base64

    from pyspark.sql import functions as F

    if key_encoding == "raw":
        b64 = sorted(
            {
                base64.b64encode(
                    k if isinstance(k, (bytes, bytearray)) else str(k).encode()
                ).decode()
                for k in keys
            }
        )
    elif key_encoding == "base64":
        b64 = sorted(set(keys))
    else:
        raise ValueError(f"unknown key_encoding: {key_encoding}")
    if not b64:
        return []

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(dest)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    # 0. reconcile leftovers from an interrupted previous run (same
    #    convention as compact_archive_slices — the two jobs share the swap
    #    discipline, so either repairs the other's crash debris)
    for status in fs.listStatus(root):
        name = str(status.getPath().getName())
        if name == "_forgetting":
            fs.delete(status.getPath(), True)
        elif name.startswith("_old_slice="):
            original = hpath(root, name[len("_old_"):])
            if fs.exists(original):
                fs.delete(status.getPath(), True)
            elif not fs.rename(status.getPath(), original):
                raise IOError(
                    f"cannot restore interrupted-erasure leftover {name}; "
                    "resolve manually before forgetting"
                )

    # layout validation BEFORE the scan: erasure over an unsupported layout
    # must fail loudly, never report success having parsed nothing (a GDPR
    # request answered with a silent no-op is the worst failure mode here).
    slice_dirs = [
        s.getPath()
        for s in fs.listStatus(root)
        if str(s.getPath().getName()).startswith("slice=") and s.isDirectory()
    ]
    if not slice_dirs:
        raise ValueError(
            f"{dest} has no slice= directories — forget_keys supports the "
            "JSON-lines archive layout only (guardian-format single-file "
            "archives: restore, filter, re-write via write_guardian_format; "
            "parquet archives: rewrite via a filtered read)"
        )
    data_files = [
        str(f.getPath().getName())
        for f in fs.listStatus(slice_dirs[0])
        if not str(f.getPath().getName()).startswith(("_", "."))
    ]
    if any(f.endswith(".parquet") for f in data_files):
        raise ValueError(
            f"{dest} is a parquet archive — forget_keys parses JSON-lines; "
            "erase parquet archives with a filtered rewrite instead"
        )

    raw = spark.read.format("text").option("basePath", dest).load(f"{dest}/slice=*")
    key_of = F.get_json_object("value", "$.key")
    affected = sorted(
        r.slice
        for r in raw.where(key_of.isin(b64)).select("slice").distinct().collect()
    )
    if not affected:
        return []

    # codec per affected slice (gzip slices must rewrite gzip)
    gz_slices, plain_slices = [], []
    for status in fs.listStatus(root):
        physical = str(status.getPath().getName())
        if not physical.startswith("slice="):
            continue
        import urllib.parse as _url

        value = _url.unquote(physical[len("slice="):])
        if value not in affected:
            continue
        files = [
            str(f.getPath().getName())
            for f in fs.listStatus(status.getPath())
            if not str(f.getPath().getName()).startswith(("_", "."))
        ]
        (gz_slices if any(f.endswith(".gz") for f in files) else plain_slices).append(
            (physical, value)
        )

    staged_root = hpath(root, "_forgetting")
    survivors = raw.where(
        F.col("slice").isin(affected) & (key_of.isNull() | ~key_of.isin(b64))
    ).repartition("slice")
    for codec, slices in (("gzip", gz_slices), (None, plain_slices)):
        if not slices:
            continue
        part = survivors.where(F.col("slice").isin([v for _, v in slices]))
        writer = part.write.mode("append").format("text").partitionBy("slice")
        if codec:
            writer = writer.option("compression", codec)
        writer.save(str(staged_root))
    for physical, value in gz_slices + plain_slices:
        staged = hpath(staged_root, physical)
        old = hpath(root, f"_old_{physical}")
        slice_path = hpath(root, physical)
        if not fs.exists(staged):
            # every record in the slice matched a key: the slice directory
            # is REMOVED outright (an empty slice= dir would break partition
            # discovery on the text reader, and an erased slice has no data
            # to represent). Direct recursive delete, NOT rename-aside: a
            # crash mid-delete leaves partial erasure that a re-run
            # completes (monotone progress), whereas a crash after a
            # rename-aside would make reconciliation RESURRECT the data the
            # caller asked to forget.
            fs.delete(slice_path, True)
            continue
        if not fs.rename(slice_path, old):
            raise IOError(f"erasure swap failed renaming {slice_path} aside")
        if not fs.rename(staged, slice_path):
            fs.rename(old, slice_path)
            raise IOError(f"erasure swap failed installing staged {staged}")
        fs.delete(old, True)
    fs.delete(staged_root, True)
    return affected


def plan_retention(spark: SparkSession, dest: str, cutoff) -> "DataFrame":
    """Retention expiry plan for an archive: one row per slice with its
    metadata inventory and an ``expire`` verdict (slice start strictly
    before ``cutoff``) — the dry-run a retention job reviews BEFORE
    deleting anything (the forget_keys/compact discipline: plan, stage,
    then swap; deletion itself is slice-directory removal, crash-safe
    because a partially-deleted expired slice is still expired on re-run).
    Built on :func:`describe_archive`, so driver work stays slice-count
    bounded and the record counts come from the same one-scan join."""
    from datetime import datetime

    from pyspark.sql import functions as F

    desc = describe_archive(spark, dest)
    if isinstance(cutoff, str):
        cutoff = datetime.fromisoformat(cutoff)
    cutoff = cutoff.replace(tzinfo=None)
    # slice-count-bounded driver pass through the SAME key parser the
    # archive layout uses (second/millisecond/offset layouts all reconcile)
    verdicts = [
        (
            r["slice"],
            key_to_datetime(r["slice"]).replace(tzinfo=None),
            key_to_datetime(r["slice"]).replace(tzinfo=None) < cutoff,
        )
        for r in desc.select("slice").collect()
    ]
    vdf = spark.createDataFrame(
        verdicts, "slice string, slice_ts timestamp, expire boolean"
    )
    return desc.join(vdf, "slice").select(
        "slice", "slice_ts", "n_files", "bytes", "n_records", "expire"
    )


def record_checksum_col() -> "Column":
    """Order-independent per-record integrity checksum: the first 4 bytes of
    md5 over the canonical record rendering
    ``topic|partition|offset|key|value|epoch_millis`` as a non-negative
    int64. Summing it per slice gives a content checksum any engine can
    recompute independently (the g10 oracle recomputes it straight from the
    source table), so a record lost, duplicated, or altered anywhere in the
    serialize -> write -> list -> parse chain changes the slice checksum."""
    from pyspark.sql import functions as F

    canon = F.concat_ws(
        "|",
        F.col("topic"),
        F.col("partition").cast("string"),
        F.col("offset").cast("string"),
        F.col("key").cast("string"),
        F.col("value").cast("string"),
        F.unix_millis("timestamp").cast("string"),
    )
    return F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")


def archive_manifest(spark: SparkSession, dest: str) -> "DataFrame":
    """Per-slice integrity manifest of a guardian-format archive: one
    whole-file parse pass emits (slice, n_records, checksum) with
    ``checksum = sum(record_checksum_col())`` — the fixity record an
    operator stores next to the archive and re-runs before trusting a
    restore. ONE pass over the objects: listed on the driver through the
    destination's FileSystem (any scheme) and opened by
    ``restore.read_guardian_files`` without a listing job; slice identity
    from the decoded object basename; counts and digest sums map-side
    combined per slice, so collecting it runs the scan stage and the
    per-slice reduce (two Spark jobs under AQE)."""
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.operators.restore import (
        list_backup_keys,
        read_guardian_files,
    )

    # an empty archive gives an empty manifest, not a reader error —
    # verify/diff then classify every expected slice as missing, the truth
    return (
        read_guardian_files(spark, dest, list_backup_keys(dest, spark))
        .select(_object_slice_col().alias("slice"), record_checksum_col().alias("__ck"))
        .groupBy("slice")
        .agg(F.count("*").alias("n_records"), F.sum("__ck").alias("checksum"))
    )


def verify_archive(
    spark: SparkSession, dest: str, records: "DataFrame", config
) -> "DataFrame":
    """Fixity verification: compare the archive's manifest against the
    expected manifest computed from the pre-write records (slice identity
    from the same time-slice config the writer used). Returns one row per
    slice with the archive-side counts/checksums and a ``verified`` flag;
    slices present on only one side surface with verified = false rather
    than vanishing.

    Slice identity is normalized to an always-seconds UTC form on both
    sides (the object keys themselves are Java ISO_OFFSET_DATE_TIME, which
    omits zero seconds): the archive side goes through the same driver-side
    key parser restore uses (metadata-sized, like every listing), the
    expected side through one ``date_format``."""
    import re

    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.core.timeslice import slice_col
    from guardian_for_apache_kafka_spark.operators.restore import list_backup_keys

    expected = (
        records.withColumn("__slice_start", slice_col(F.col("timestamp"), config))
        .withColumn("__ck", record_checksum_col())
        .groupBy(
            F.date_format("__slice_start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                "slice"
            )
        )
        .agg(
            F.count("*").alias("n_expected"),
            F.sum("__ck").alias("expected_checksum"),
        )
    )
    canon = {}
    for k in list_backup_keys(dest, spark):
        stem = re.sub(r"\.json(\.gz)?$", "", k)
        t = key_to_datetime(k).astimezone(_dt.timezone.utc)
        canon[stem] = t.strftime("%Y-%m-%dT%H:%M:%SZ")
    if canon:
        lookup = F.create_map(
            *[F.lit(x) for pair in canon.items() for x in pair]
        )[F.col("slice")]
    else:
        # empty archive: no keys to canonicalize (map() has VOID value type
        # and cannot be indexed) — every expected slice will be unmatched
        lookup = F.lit(None).cast("string")
    actual = archive_manifest(spark, dest).withColumn("slice", lookup)
    return (
        expected.join(actual, "slice", "full_outer")
        .select(
            "slice",
            "n_records",
            "checksum",
            (
                F.col("n_records").eqNullSafe(F.col("n_expected"))
                & F.col("checksum").eqNullSafe(F.col("expected_checksum"))
            ).alias("verified"),
        )
        .orderBy("slice")
    )


def archive_diff(spark: SparkSession, dest_a: str, dest_b: str) -> "DataFrame":
    """Replication diff between two archives (primary vs replica / two
    regions): join their fixity manifests full-outer and classify each
    slice — ``in_sync`` (count AND checksum equal), ``divergent`` (present
    both sides, content differs), ``missing_b`` / ``missing_a``. Two
    manifest passes (each archive read once — the minimum any content diff
    can do) and a slice-sized join; record payloads never shuffle. The
    operational complement of verify_archive: that checks one archive
    against its source records, this checks two archives against each
    other."""
    from pyspark.sql import functions as F

    a = archive_manifest(spark, dest_a).select(
        "slice",
        F.col("n_records").alias("n_a"),
        F.col("checksum").alias("ck_a"),
    )
    b = archive_manifest(spark, dest_b).select(
        "slice",
        F.col("n_records").alias("n_b"),
        F.col("checksum").alias("ck_b"),
    )
    return (
        a.join(b, "slice", "full_outer")
        .select(
            "slice",
            "n_a",
            "n_b",
            F.when(F.col("n_a").isNull(), "missing_a")
            .when(F.col("n_b").isNull(), "missing_b")
            .when(
                (F.col("n_a") == F.col("n_b"))
                & (F.col("ck_a") == F.col("ck_b")),
                "in_sync",
            )
            .otherwise("divergent")
            .alias("status"),
        )
        .orderBy("slice")
    )


ZONEMAP_NAME = "_guardian_zonemap.json"


def archive_topic_zonemap(spark: SparkSession, dest: str) -> "DataFrame":
    """Per-slice topic zone map of a guardian-format archive: one parse
    pass emits (slice, topics, n_records) — the pruning statistics a
    topic-filtered scan consults to skip whole objects (the Spark-native
    analogue of parquet row-group zone maps, at object granularity)."""
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.operators.restore import (
        list_backup_keys,
        read_guardian_files,
    )

    return (
        read_guardian_files(spark, dest, list_backup_keys(dest, spark))
        .select(_object_slice_col().alias("slice"), "topic")
        .groupBy("slice")
        .agg(
            F.array_sort(F.collect_set("topic")).alias("topics"),
            F.count("*").cast("long").alias("n_records"),
        )
        .orderBy("slice")
    )


def write_topic_zonemap(spark: SparkSession, dest: str) -> str:
    """Materialize the topic zone map next to the archive
    (``<dest>/_guardian_zonemap.json`` — underscore-prefixed, so every
    archive listing skips it). REBUILD AFTER WRITES: the DataSource only
    consults it when asked (``.option("zonemap", "true")``) precisely
    because a stale map would silently drop slices; the file carries the
    slice count + total records so the reader can at least detect gross
    drift. Returns the written path."""
    import json as _json

    from guardian_for_apache_kafka_spark.sources.guardian_source import _fs_ops

    rows = archive_topic_zonemap(spark, dest).collect()
    payload = {
        "n_slices": len(rows),
        "n_records": int(sum(r.n_records for r in rows)),
        "slices": {r.slice: list(r.topics) for r in rows},
    }
    write_bytes, *_ = _fs_ops(dest)
    write_bytes(ZONEMAP_NAME, _json.dumps(payload, sort_keys=True).encode())
    return f"{dest.rstrip('/')}/{ZONEMAP_NAME}"


def archive_gap_report(spark: SparkSession, dest: str, step_minutes: int = 60) -> "DataFrame":
    """Missing-slice runs in a calendar-aligned archive: list the slice
    keys (names only — no data read), parse their times with the SAME key
    parser restore ordering uses (core/timeslice.key_to_datetime), build
    the expected ``step_minutes`` grid between the first and last slice,
    and report every CONTIGUOUS run of expected-but-absent slices — the
    "did the backup pipeline silently stop?" monitoring check for a
    ChronoUnitSlice archive (g15 runs the same shape on live event data;
    this one runs on the archive itself, scheme-generic via the Hadoop FS
    listing). Returns one row per gap (gap_start, gap_end, missing_slices)
    ordered by gap_start — empty means the timeline is complete.

    Driver work is slice-count bounded (one listing, like
    plan_retention); the grid arithmetic is calendar-domain-sized and runs
    as DataFrame ops (epoch-step row-number run grouping)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.operators.restore import list_backup_keys

    keys = list_backup_keys(dest, spark)
    times = [(key_to_datetime(k).replace(tzinfo=None),) for k in keys]
    if not times:
        raise ValueError(f"no slice keys under {dest}")
    present = spark.createDataFrame(times, "h timestamp").distinct()
    step = int(step_minutes) * 60
    b = present.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    expected = b.select(
        F.explode(
            F.sequence("h0", "h1", F.expr(f"INTERVAL {step} SECOND"))
        ).alias("h")
    )
    missing = expected.join(present, "h", "left_anti")
    runs = missing.select(
        "h",
        (
            F.floor(F.unix_timestamp("h") / step)
            - F.row_number().over(Window.orderBy("h"))
        ).alias("grp"),
    )
    return (
        runs.groupBy("grp")
        .agg(
            F.min("h").alias("gap_start"),
            F.max("h").alias("gap_end"),
            F.count("*").cast("long").alias("missing_slices"),
        )
        .drop("grp")
        .orderBy("gap_start")
    )
