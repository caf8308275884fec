"""Backup: records -> time-sliced archive objects.

Two writers, one semantics (SURVEY.md §1.2-1.4):

1. ``backup_batch`` — the engine-native archival path (the 100 TB path).
   ``partitionBy(slice=<ISO>)`` JSON-lines (or Parquet) with optional gzip.
   Slice boundaries are implicit in the partitioning — the reference's
   boundary-detection / substream-split operators
   (BackupClientInterface.scala:121-174 calculateBackupStreamPositions,
   :419-422 splitAfter) exist only because it streams bytes through a single
   consumer; a partitioned write IS the substream split, and it runs with
   full cluster parallelism instead of the reference's
   mergeSubstreamsWithParallelism(1) (:498).

2. ``write_guardian_format`` — byte-exact parity writer producing the
   reference's on-disk format: per slice one JSON **array** file named
   ``ISO_OFFSET_DATE_TIME(slice_start).json[.gz]``
   (BackupClientInterface.scala:517-532 calculateKey; :214-298 array framing),
   optionally terminated with the interrupted-stream ``null]`` sentinel
   (:594-600 terminateSource). Executors write their own slices in parallel
   (the slice->file grouping is inherent to the format, not a scale loss —
   each slice is bounded by the slice period).

Every guardian-format object — from ``write_guardian_format``, the commit
layer's rewrites and the ``guardian`` DataSource batch writer
(sources/guardian_source.py) — is framed by one function,
:func:`frame_array_objects`, so the writers cannot drift apart byte-wise.

No multipart-resume protocol is ported (BackupClient.scala:41-179): atomic
file commit + checkpoint/deterministic recompute replace 200 LoC of upload
surgery (SURVEY.md §4.4).
"""

from __future__ import annotations

import gzip as _gzip
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.core.model import record_to_json_col
from guardian_for_apache_kafka_spark.core.timeslice import (
    ChronoUnitSlice,
    PeriodFromFirst,
    TimeConfiguration,
    calculate_key,
    slice_col,
    slice_dir_pattern,
)


def physical_name(key: str) -> str:
    """Logical object key -> on-disk file name. Hadoop's Path API rejects ``:``
    in file names (URI parsing), so the ISO colons are escaped to ``_`` at the
    storage layer; the logical key (exact reference bytes,
    BackupClientInterface.scala:517-532) is what the API surfaces. An S3-native
    adapter (SDK, not s3a) would store the raw key."""
    return key.replace(":", "_")


def logical_name(name: str) -> str:
    """On-disk file name -> logical object key (inverse of ``physical_name``;
    ISO_OFFSET_DATE_TIME contains no underscores)."""
    return name.replace("_", ":")


def _resolve_anchor_us(records: DataFrame, config: TimeConfiguration) -> int | None:
    """PeriodFromFirst needs the first record's event time (SURVEY.md §4.3).

    One tiny scalar aggregate (min over the timestamp column — parquet/Kafka
    sources answer this from statistics/partition metadata, not a full scan of
    value bytes); conformant with the reference's per-run anchor semantics
    (TimeConfiguration.scala:9-14: suspend/resume always opens a new file)."""
    if isinstance(config, ChronoUnitSlice):
        return None
    row = records.agg(F.min(F.unix_micros("timestamp")).alias("a")).collect()[0]
    if row["a"] is None:
        raise ValueError("cannot anchor PeriodFromFirst on an empty stream")
    return int(row["a"])


def with_slice(records: DataFrame, config: TimeConfiguration, anchor_us: int | None = None) -> DataFrame:
    """Records + their slice-start timestamp column (T2 window-index assignment,
    BackupClientInterface.scala:176-186, as a pure column expression)."""
    if isinstance(config, PeriodFromFirst) and anchor_us is None:
        anchor_us = _resolve_anchor_us(records, config)
    return records.withColumn("slice", slice_col(F.col("timestamp"), config, anchor_us))


def _slice_dir_col(slice_: Column, config: TimeConfiguration) -> Column:
    # partition-directory value: ISO-8601, second (ChronoUnit) or millisecond
    # (PeriodFromFirst) precision — see timeslice.slice_dir_pattern
    return F.date_format(slice_, slice_dir_pattern(config))


def _json_lines(records: DataFrame, config: TimeConfiguration, anchor_us: int | None = None) -> DataFrame:
    """The JSON-lines frame ``(slice dir value, wire JSON)`` that
    ``backup_batch`` and the streaming JSON-lines sinks write."""
    sliced = with_slice(records, config, anchor_us)
    return sliced.select(
        _slice_dir_col(F.col("slice"), config).alias("slice"),
        record_to_json_col().alias("value"),
    )


def _apply_hadoop_gzip_level(records: DataFrame, level: int | None) -> None:
    """Best-effort mapping of a reference-style gzip level (1-9,
    configs/Compression.scala:5) onto the Hadoop codec knob. Hadoop's zlib
    wrapper exposes level *classes*, not the full 1-9 range
    (``zlib.compress.level``: BEST_SPEED / DEFAULT_COMPRESSION /
    BEST_COMPRESSION), so the int is bucketed to the nearest class; the
    guardian-format writer (Python zlib) honors the exact level."""
    if level is None:
        return
    level = gzip_level(level)
    cls = "BEST_SPEED" if level <= 3 else ("BEST_COMPRESSION" if level >= 7 else "DEFAULT_COMPRESSION")
    spark = records.sparkSession
    spark.sparkContext._jsc.hadoopConfiguration().set("zlib.compress.level", cls)


def backup_batch(
    records: DataFrame,
    dest: str,
    config: TimeConfiguration,
    compression: str | None = None,
    fmt: str = "json",
    anchor_us: int | None = None,
    compression_level: int | None = None,
) -> None:
    """Engine-native archival: one partition directory per slice
    (``slice=<ISO>/part-*.json[.gz]``), JSON-lines in the reference's wire
    format (Base64 key/value, epoch-millis timestamp) or Parquet for the
    columnar archival north star. Scales: every slice writes in parallel,
    writes commit atomically via the output committer."""
    if compression:
        _apply_hadoop_gzip_level(records, compression_level)
    if fmt == "json":
        out = _json_lines(records, config, anchor_us)
        writer = out.write.partitionBy("slice").mode("append").format("text")
        if compression:
            writer = writer.option("compression", compression)
    elif fmt in ("parquet", "orc"):
        # columnar archival north star: parquet default, ORC as the
        # alternative columnar container (both Spark-native). The engine's
        # one compression flavor is gzip (the reference's, CompressionType
        # .scala:7-9); ORC has no gzip codec, so the request maps to zlib —
        # the same DEFLATE stream in ORC's framing.
        sliced = with_slice(records, config, anchor_us)
        out = sliced.withColumn("slice", _slice_dir_col(F.col("slice"), config))
        writer = out.write.partitionBy("slice").mode("append").format(fmt)
        if compression:
            codec = "zlib" if (fmt == "orc" and compression == "gzip") else compression
            writer = writer.option("compression", codec)
    else:
        raise ValueError(f"unsupported backup format: {fmt}")
    writer.save(dest)


#: Hadoop-style scheme names mapped to their pyarrow names. Extended at
#: call time by SPARK_GRAFT_SCHEME_ALIASES ("alias=scheme,alias=scheme"),
#: for S3-compatible stores published under a custom scheme (minio, ozone,
#: on-prem gateways) — and for e2e tests, which alias s3a to the local FS
#: so the object-store code path runs against a tmpdir. Read per call (a
#: dict lookup + env get), so executor python workers see the same mapping
#: without any closure plumbing.
SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3", "gs": "gcs"}


def normalize_uri(uri: str) -> str:
    """Rewrite the scheme of a ``scheme://`` URI through the env alias map
    (``SPARK_GRAFT_SCHEME_ALIASES``); bare paths and unaliased schemes pass
    through. This is the TEXTUAL half of alias handling — applied at the
    CLI boundary so Hadoop-side consumers (spark.read over an archive, the
    session lister) see the target scheme, while :func:`resolve_fs` applies
    it for every sessionless pyarrow consumer."""
    if "://" not in uri:
        return uri
    scheme, rest = uri.split("://", 1)
    env = os.environ.get("SPARK_GRAFT_SCHEME_ALIASES", "")
    for pair in env.split(","):
        if "=" in pair:
            a, s = pair.split("=", 1)
            if a.strip() == scheme:
                return f"{s.strip()}://{rest}"
    return uri


def resolve_fs(uri: str):
    """(pyarrow FileSystem, inner path) for any path a sessionless process
    touches — THE one place that decides how the slice writer, the lister,
    the DataSource reader/writer and the streaming anchor reach storage, so
    aliases and path rules cannot drift between them. A bare path is the
    local filesystem at ``os.path.abspath(path)``: relative to the process
    cwd, as ``open`` resolves it (pyarrow's ``from_uri`` rejects relative
    paths). A ``scheme://`` URI gets the env aliases (:func:`normalize_uri`),
    then the pyarrow name of its Hadoop scheme; its path is literal, as
    Hadoop's ``Path`` reads it, so a ``%3A`` in a Spark partition directory
    name is not decoded to ``:``."""
    from pyarrow import fs as pafs

    if "://" not in uri:
        return pafs.LocalFileSystem(), os.path.abspath(uri)
    scheme, rest = normalize_uri(uri).split("://", 1)
    scheme = SCHEME_ALIASES.get(scheme, scheme)
    return pafs.FileSystem.from_uri(f"{scheme}://{rest.replace('%', '%25')}")


def _open_slice_output(dest: str, name: str):
    """Executor-side byte stream for one guardian-format object, opened
    through :func:`resolve_fs` — the Arrow-native equivalent of the Hadoop
    FS dispatch the listing/maintenance side uses (executors have no py4j
    bridge to the JVM Hadoop FS, so the driver-side API can't serve
    per-partition writers). Compression is explicitly disabled — pyarrow
    would otherwise auto-gzip on the ``.gz`` suffix, double-compressing the
    framed stream."""
    filesystem, base = resolve_fs(dest)
    return filesystem.open_output_stream(f"{base.rstrip('/')}/{name}", compression=None)


def _ensure_dest_dir(dest: str) -> None:
    filesystem, base = resolve_fs(dest)
    filesystem.create_dir(base, recursive=True)


def gzip_level(level: int | None) -> int:
    """The gzip level a writer compresses at: 1-9 as the reference accepts
    (configs/Compression.scala:5), zlib's default 6 when unset."""
    if level is None:
        return 6
    if not 1 <= level <= 9:
        raise ValueError(f"gzip level must be 1-9, got {level}")
    return level


def _decorate_key(key: str, decoration: str) -> str:
    """Insert ``decoration`` between the ISO stem and ``.json[.gz]``."""
    if not decoration:
        return key
    stem, ext = (key[:-3], ".gz") if key.endswith(".gz") else (key, "")
    assert stem.endswith(".json")
    return stem[: -len(".json")] + decoration + ".json" + ext


#: Characters of framed records buffered before one write to the object's
#: stream: bounds the framer's memory by a chunk, not by the slice.
_CHUNK_CHARS = 1 << 20


def frame_array_objects(
    rows,
    open_object,
    compression: str | None = None,
    compression_level: int = 6,
    key_decoration: str = "",
    interrupted_key: str | None = None,
) -> list[tuple]:
    """Guardian-format framing (BackupClientInterface.scala:214-298), the one
    copy every writer of array objects calls. ``rows``: mappings with
    ``slice, topic, partition, offset, json``, sorted by the first four. Each
    key ``calculate_key(slice)`` (+ ``key_decoration``) becomes one object
    ``[json,json,...]`` (``,null]`` for ``interrupted_key``, terminateSource
    :594-600) on the stream ``open_object(key)``, closed here. Records are
    written as ``,``-joined chunks of at most about ``_CHUNK_CHARS``
    characters; the bytes do not depend on the chunking. Gzip is one
    ``mtime=0`` member whose FNAME is set explicitly to the physical name
    without ``.gz``, so the bytes never depend on the stream's ``.name``
    (deterministic like the reference's GZIPOutputStream,
    BackupClient.scala:248-285). Returns per-(key, topic, partition) stats of
    the rows written: ``(key, topic, partition, n, n_offsets, lo, hi)``."""
    cur_slice = cur_key = None
    fh = raw = None
    pending: list[str] = []
    pending_chars = 0
    head = b"["  # what precedes the next chunk: "[" opens the object
    stats: dict = {}

    def flush() -> None:
        nonlocal pending_chars, head
        if pending:
            fh.write(head + ",".join(pending).encode("utf-8"))
            pending.clear()
            pending_chars, head = 0, b","

    def finish() -> None:
        if fh is not None:
            flush()
            fh.write(b",null]" if cur_key == interrupted_key else b"]")
            fh.close()
            if raw is not fh:
                raw.close()  # GzipFile.close() leaves the byte stream open

    for row in rows:
        if row["slice"] != cur_slice:
            cur_slice = row["slice"]
            key = _decorate_key(calculate_key(cur_slice, compression), key_decoration)
            if key != cur_key:
                finish()
                cur_key, head = key, b"["
                raw = open_object(key)
                fh = raw if compression != "gzip" else _gzip.GzipFile(
                    filename=physical_name(key), fileobj=raw, mode="wb",
                    compresslevel=compression_level, mtime=0,
                )
        pending.append(row["json"])
        pending_chars += len(pending[-1])
        if pending_chars >= _CHUNK_CHARS:
            flush()
        st = stats.setdefault((cur_key, row["topic"], row["partition"]), [0, 0, None, None])
        st[0] += 1
        off = row["offset"]
        if off is not None:
            st[1] += 1
            st[2] = off if st[2] is None else min(st[2], off)
            st[3] = off if st[3] is None else max(st[3], off)
    finish()
    return [(k, t, p, n, nn, lo, hi) for (k, t, p), (n, nn, lo, hi) in stats.items()]


def write_guardian_format(
    records: DataFrame,
    dest: str,
    config: TimeConfiguration,
    compression: str | None = None,
    interrupted: bool = False,
    anchor_us: int | None = None,
    compression_level: int | None = None,
    return_stats: bool = False,
):
    """Byte-exact reference format: per slice, one file named
    ``calculate_key(slice_start)`` containing a JSON array of wire records in
    (topic, partition, offset) order; the final file gets ``null]`` instead of
    ``]`` when ``interrupted`` (terminateSource semantics). Returns written keys.
    ``compression_level`` (1-9) reaches the gzip codec exactly
    (reference Compression(type, level), configs/Compression.scala:5).

    Distribution: rows are hash-distributed by slice and sorted within
    partitions, so each executor streams out its slices sequentially without
    materializing a slice in memory: :func:`frame_array_objects` buffers at
    most one bounded chunk of framed records per write. The write is one
    Spark action; only ``interrupted=True`` adds a ``max(slice)`` aggregate
    job before it, to name the object that gets the sentinel. ``dest`` may
    be a bare local path or any ``scheme://`` URI ``pyarrow.fs`` can dial
    (file, s3/s3a, gs, hdfs) — see :func:`resolve_fs`.
    """
    _ensure_dest_dir(dest)
    sliced = with_slice(records, config, anchor_us)
    # only the interrupted sentinel needs the last slice: one aggregate job
    last_slice = sliced.agg(F.max("slice")).first()[0] if interrupted else None
    wire = sliced.select(
        F.col("slice"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        record_to_json_col().alias("json"),
    )
    return write_array_objects(
        wire,
        dest,
        compression=compression,
        compression_level=compression_level,
        interrupted=interrupted,
        last_slice=last_slice,
        return_stats=return_stats,
    )


def write_array_objects(
    wire: DataFrame,
    dest: str,
    compression: str | None = None,
    compression_level: int | None = None,
    interrupted: bool = False,
    last_slice=None,
    key_decoration: str = "",
    return_stats: bool = False,
):
    """Writer core shared by :func:`write_guardian_format` (slices computed
    from a TimeConfiguration) and the commit layer's merge rewrite
    (``operators/commitlog.committed_merge_slices`` assigns each group's
    records the group's FIRST slice, so the merged object keeps a
    time-parseable key and range pruning stays sound). ``wire`` columns:
    ``(slice timestamp, topic, partition, offset, json)``; one output object
    per distinct slice, named ``calculate_key(slice)``, framed by
    :func:`frame_array_objects`; executors write their slices in parallel.

    The write is ONE job: each task writes its objects and returns
    per-(object, topic, partition) stats computed from exactly the rows it
    wrote, which also yields the key list — no second evaluation of
    ``wire``, so the stats describe the written bytes even for inputs that
    would not replay identically. ``return_stats=True`` returns
    ``(keys, {key: {"records": n, "offsets": {"topic/partition": [lo, hi]}
    | None}})`` — ``offsets`` is None when any (topic, partition) group in
    the object holds only NULL offsets (an incomplete zone map must not be
    published; see commitlog.committed_backup).

    ``key_decoration`` is inserted between the ISO stem and the extension
    (``<ISO><decoration>.json[.gz]``): the commit layer passes a unique
    ``.m<uuid8>`` so a compaction rewrite NEVER reuses a name an older
    snapshot still references (physical immutability — the property Delta
    gets from UUID part names). `core.timeslice.key_to_datetime` parses
    decorated keys by design (suffix-stripping loop)."""
    _ensure_dest_dir(dest)
    wire = wire.repartition("slice").sortWithinPartitions(
        "slice", "topic", "partition", "offset"
    )
    level = gzip_level(compression_level)
    interrupted_key = (
        _decorate_key(calculate_key(last_slice, compression), key_decoration)
        if interrupted and last_slice is not None
        else None
    )

    def write_partition(rows):
        return frame_array_objects(
            rows,
            lambda key: _open_slice_output(dest, physical_name(key)),
            compression=compression,
            compression_level=level,
            key_decoration=key_decoration,
            interrupted_key=interrupted_key,
        )

    # ONE job writes and reports: keys + census + offset envelopes all come
    # from the rows actually written (no re-evaluation of `wire`)
    rows_stats = wire.rdd.mapPartitions(write_partition).collect()
    records_by_key: dict = {}
    tp_agg: dict = {}
    for k, t, p, n, nn, lo, hi in rows_stats:
        records_by_key[k] = records_by_key.get(k, 0) + n
        e = tp_agg.setdefault((k, f"{t}/{p}"), [0, None, None])
        e[0] += nn
        if lo is not None:
            e[1] = lo if e[1] is None else min(e[1], lo)
            e[2] = hi if e[2] is None else max(e[2], hi)
    keys = sorted(records_by_key)
    if not return_stats:
        return keys
    stats_out: dict = {
        k: {"records": records_by_key[k], "offsets": {}} for k in keys
    }
    incomplete: set = set()
    for (k, tp), (nn, lo, hi) in tp_agg.items():
        if nn == 0:
            # a (topic, partition) group whose offsets are all NULL: the
            # object's map can't prove absence for that topic — publish none
            incomplete.add(k)
        else:
            stats_out[k]["offsets"][tp] = [int(lo), int(hi)]
    for k in keys:
        if k in incomplete or not stats_out[k]["offsets"]:
            stats_out[k]["offsets"] = None
    return keys, stats_out
