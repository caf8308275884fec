"""The benchmark's workloads. Each drives the package only through its
public functions, checks every output against `gen`'s engine-free truth,
and records unit timings (untraced) and spans (traced).

A *unit* is the fixed amount of work a workload repeats. After each unit
the workload times a *reference*: comparable work done by DuckDB, which
shares no code with the package, on the same inputs. The ratio of the two
keeps its value when the machine as a whole runs faster or slower, which
on a shared host moved raw unit times by up to 2x within minutes.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import gen

# Sizes were chosen on a 4-core box so that a unit takes 2-8 s and a
# 15-second run holds two or more units after a warm-up.
BATCH_RECORDS = 20_000
WARM_RECORDS = 20_000
STREAM_FILE_RECORDS = 2_000
STREAM_BACKLOG_FILES = 8
STREAM_WARM_FILES = 2
# Open-loop phase: one file every STREAM_DROP_INTERVAL_S, about half of what
# one micro-batch per file sustains (a trigger took 0.6-0.9 s at this size);
# twenty files give the lag tail (ten samples beyond it) the p50.
STREAM_DROP_INTERVAL_S = 1.5
STREAM_OPEN_FILES = 20
CORPUS_DOCS = 2_000
CORPUS_VECTORS = 800
NEAR_DUP_QUERIES = ("d4_minhash_lsh_dedup", "d6_embedding_near_dup", "d3_ngram_jaccard_pairs")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, as (value,
    percentile); (0, 0) when there are fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return 0.0, 0
    return float(np.sort(xs)[n - 11]), int(100 * (n - 10) / n)


class Ctx:
    """One run: session, tracer, work directory and the tallies every
    workload reports into."""

    def __init__(self, spark, tracer, work: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.unit_s: list[float] = []
        self.unit_records: list[int] = []
        self.ref_s: list[float] = []  # the reference timed after each unit
        self.region = (0.0, 0.0)  # perf_counter bounds of the timed region
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn, expect=None, count: bool = True):
        """Run one checked operation: ``fn()`` returns a result that must equal
        ``expect`` (when given). An exception or a mismatch is a failed op."""
        if count:
            self.attempted += 1
        try:
            got = fn()
        except Exception:
            print(f"[perfbench] {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            self.failed += 1
            return None
        if expect is not None and got != expect:
            print(f"[perfbench] {name} check failed: got {got!r}, want {expect!r}", file=sys.stderr)
            self.failed += 1
        return got


def crc_col():
    """Engine-side twin of `gen.record_crc`."""
    from pyspark.sql import functions as F

    return F.crc32(
        F.concat_ws(
            "|",
            "topic",
            F.col("partition").cast("string"),
            F.col("offset").cast("string"),
            F.coalesce(F.hex("key"), F.lit("~")),
            F.hex("value"),
            F.unix_micros("timestamp").cast("string"),
        ).cast("binary")
    )


def noop_digest(df) -> tuple[int, int]:
    """Write ``df`` to the noop sink and return (rows, crc sum) observed on
    the same execution."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(crc_col()).alias("c")).write.format(
        "noop"
    ).mode("overwrite").save()
    m = obs.get
    return int(m["n"]), int(m["c"] or 0)


def archive_sizes(dest: str) -> dict:
    """Object count, stored and decompressed bytes, log versions and log
    bytes of a committed archive (read after the timed region)."""
    from guardian_for_apache_kafka_spark.operators import commitlog
    from guardian_for_apache_kafka_spark.operators.backup import physical_name

    files = commitlog.snapshot(dest)["files"]
    wire = 0
    for k in files:
        with gzip.open(os.path.join(dest, physical_name(k))) as fh:
            wire += len(fh.read())
    log = os.path.join(dest, commitlog.LOG_DIR)
    return {
        "objects": len(files),
        "stored": sum(m["size"] for m in files.values()),
        "wire": wire,
        "versions": len(commitlog.list_versions(dest)),
        "log_bytes": sum(os.path.getsize(os.path.join(log, n)) for n in os.listdir(log)),
    }


def commit_times(dest: str) -> list[float]:
    """Modification times of an archive's commit-log versions, in version
    order: when each commit's file was written, just before it became
    visible. Read after the fact, so timing a stream needs no polling."""
    from guardian_for_apache_kafka_spark.operators import commitlog

    log = os.path.join(dest, commitlog.LOG_DIR)
    return [os.stat(os.path.join(log, f"{v:020d}.json")).st_mtime
            for v in commitlog.list_versions(dest)]


def timed_calls(fn, reps: int = 5) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return median(out)


class ArchiveBatch:
    """records -> committed gzip hourly archive -> full snapshot restore ->
    key-latest compaction -> a point-in-time restore of two topics."""

    name = "archive_batch"
    unit = "cycle"  # the span of one unit of work

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def stage(self) -> None:
        c = self.ctx
        self.records = gen.make_records(c.seed, BATCH_RECORDS)
        gen.write_parquet(self.records, c.path("in.parquet"))
        self.truth = gen.digest(self.records)
        self.compacted = gen.digest(gen.compacted(self.records))
        self.warm_records = gen.make_records(c.seed + 1, WARM_RECORDS)
        gen.write_parquet(self.warm_records, c.path("warm.parquet"))

    def warm(self) -> None:
        w = self.warm_records
        self._cycle(0, "warm.parquet", w, gen.digest(w), gen.digest(gen.compacted(w)), count=False)
        shutil.rmtree(self.ctx.path("arch0"))
        self._reference()

    def _reference(self) -> float:
        """DuckDB twin of a cycle: write the records as gzip JSON lines in
        (topic, partition, offset) order, read them back, keep the latest
        record per key. Returns its seconds."""
        import duckdb

        src, out = self.ctx.path("in.parquet"), self.ctx.path("reference.json.gz")
        t = time.perf_counter()
        con = duckdb.connect()
        try:
            con.execute(
                f"COPY (SELECT topic, \"partition\", \"offset\", hex(key) AS key, hex(value) AS value, "
                f"\"timestamp\" FROM read_parquet('{src}') ORDER BY topic, \"partition\", \"offset\") "
                f"TO '{out}' (FORMAT json, COMPRESSION gzip)")
            con.execute(
                "SELECT count(*), sum(hash(md5(value))) FROM (SELECT value, row_number() OVER ("
                "PARTITION BY topic, \"partition\", key ORDER BY \"timestamp\" DESC, \"offset\" DESC"
                f") AS rn FROM read_json('{out}')) WHERE rn = 1").fetchall()
        finally:
            con.close()
        return time.perf_counter() - t

    def _request(self):
        """A point-in-time request: two seeded topics from a seeded cutoff
        in the last third of the range, so every seed reads a similar share
        of the archive (about 2/8 of the topics x 1/4 of the time)."""
        rng = self.ctx.rng
        frac = 0.75 + rng.uniform(-1, 1) / gen.HOURS
        cutoff_ms = int(gen.EPOCH.timestamp() * 1000 + frac * gen.HOURS * 3600_000)
        topics = sorted(rng.choice(gen.TOPICS, 2, replace=False).tolist())
        return cutoff_ms, topics

    def _cycle(self, i: int, src: str, records, truth, compacted, count: bool = True) -> None:
        from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
        from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
        from guardian_for_apache_kafka_spark.operators import commitlog
        from guardian_for_apache_kafka_spark.operators.compaction import compact_latest_by_key
        from guardian_for_apache_kafka_spark.operators.restore import restore_batch

        c, spark, span = self.ctx, self.ctx.spark, self.ctx.tracer.span
        dest = c.path(f"arch{i}")
        cutoff_ms, topics = self._request()
        pit = gen.restore_truth(records, cutoff_ms, topics)
        cut = dt.datetime.fromtimestamp(cutoff_ms / 1000, dt.timezone.utc)
        names = [gen.topic_name(t) for t in topics]
        recs = spark.read.schema(RECORD_SCHEMA).parquet(c.path(src))
        with span("backup.committed"):
            c.op("backup", lambda: commitlog.committed_backup(
                recs, dest, ChronoUnitSlice("HOURS"), compression="gzip"), 0, count)
        with span("restore.scan"):
            c.op("restore", lambda: noop_digest(restore_batch(spark, dest, snapshot=True)), truth, count)
        with span("compaction"):
            c.op("compaction", lambda: noop_digest(
                compact_latest_by_key(restore_batch(spark, dest, snapshot=True))), compacted, count)
        with span("restore.pit"):
            c.op("restore_pit", lambda: noop_digest(restore_batch(
                spark, dest, topics=set(names), from_when=cut, snapshot=True)), pit, count)
        self.last = (dest, cut, topics, pit)

    def _source_read(self, dest: str, cut, names: list[str]):
        """The same point-in-time request through the ``guardian`` DataSource."""
        from pyspark.sql import functions as F

        return (self.ctx.spark.read.format("guardian").option("snapshot", "true")
                .option("fromWhen", cut.isoformat()).load(dest)
                .where(F.col("topic").isin(*names)).where(F.col("timestamp") >= F.lit(cut)))

    def measure(self, seconds: float) -> None:
        c = self.ctx
        start = time.perf_counter()
        i = 1
        while i == 1 or time.perf_counter() - start < seconds:
            if i > 1:
                with c.tracer.span("cleanup"):
                    shutil.rmtree(c.path(f"arch{i - 1}"))
            t = time.perf_counter()
            with c.tracer.span("cycle", op=i):
                self._cycle(i, "in.parquet", self.records, self.truth, self.compacted)
            c.unit_s.append(time.perf_counter() - t)
            c.unit_records.append(len(self.records))
            with c.tracer.span("reference"):
                c.ref_s.append(self._reference())
            i += 1
        c.region = (start, time.perf_counter())

    def layers(self) -> None:
        """Layer counts and timings read from outside after the timed
        region, on the last cycle's archive. The DataSource read path and
        the streaming layer are timed here only: their cold starts (7 s and
        14 s) did not fit the untraced run's budget."""
        from guardian_for_apache_kafka_spark.operators import commitlog
        from guardian_for_apache_kafka_spark.operators.restore import prune_keys_from_when
        from guardian_for_apache_kafka_spark.sources.guardian_source import (
            register_guardian_datasource,
        )

        c, L = self.ctx, self.ctx.layer
        dest, cut, topics, pit = self.last
        names = [gen.topic_name(t) for t in topics]
        sizes = archive_sizes(dest)
        keys = commitlog.snapshot_keys(dest)
        L.update({
            "backup.objects": sizes["objects"],
            "backup.stored_bytes": sizes["stored"],
            "backup.wire_bytes": sizes["wire"],
            "backup.bytes_per_record": sizes["stored"] / len(self.records),
            "commitlog.versions": sizes["versions"],
            "commitlog.log_bytes": sizes["log_bytes"],
            "commitlog.snapshot_s": timed_calls(lambda: commitlog.snapshot(dest)),
            "restore.list_s": timed_calls(lambda: commitlog.snapshot_keys(dest)),
            "restore.prune_s": timed_calls(lambda: prune_keys_from_when(keys, cut)),
            "restore.keys_listed": len(keys),
            "restore.keys_kept": len(prune_keys_from_when(keys, cut)),
            "restore.rows_out": len(self.records),
            "compaction.rows_in": len(self.records),
            "compaction.rows_out": self.compacted[0],
        })
        register_guardian_datasource(c.spark)
        reads = []
        for _ in range(3):  # the first read is the cold one
            t = time.perf_counter()
            c.op("source_read", lambda: noop_digest(self._source_read(dest, cut, names)), pit)
            reads.append(time.perf_counter() - t)
        L["source.read_s"] = median(reads[1:])
        L["source.partitions"] = self._source_read(dest, cut, names).rdd.getNumPartitions()
        L["source.keys_in_snapshot"] = sizes["objects"]
        L["source.rows_out"] = pit[0]
        ArchiveStream(c).trace_layers()


class ArchiveStream:
    """The streaming layer, measured in the traced run of ``archive_batch``:
    records as 2k-record parquet files fed through ``stream_committed_backup``
    one file per micro-batch. Phase 1 (closed) drains a backlog under
    availableNow; phase 2 (open) drops files on a fixed schedule and times
    each from when it was due to when its commit landed in the log."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.work = ctx.path("stream")

    def stage(self) -> None:
        n_files = STREAM_WARM_FILES + STREAM_BACKLOG_FILES + STREAM_OPEN_FILES
        self.records = gen.make_records(self.ctx.seed + 2, n_files * STREAM_FILE_RECORDS)
        stage = os.path.join(self.work, "stage")
        os.makedirs(stage)
        self.files = []
        for f in range(n_files):
            part = self.records.take(np.arange(f * STREAM_FILE_RECORDS, (f + 1) * STREAM_FILE_RECORDS))
            path = os.path.join(stage, f"part-{f:05d}.parquet")
            gen.write_parquet(part, path)
            self.files.append((path, part))

    def _path(self, tag: str, leaf: str) -> str:
        return os.path.join(self.work, tag, leaf)

    def _query(self, tag: str, available_now: bool):
        from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
        from guardian_for_apache_kafka_spark.operators import commitlog
        from guardian_for_apache_kafka_spark.streaming.pipeline import records_file_stream

        c = self.ctx
        os.makedirs(self._path(tag, "src"), exist_ok=True)
        q = commitlog.stream_committed_backup(
            records_file_stream(c.spark, self._path(tag, "src"), max_files_per_trigger=1),
            self._path(tag, "archive"), self._path(tag, "checkpoint"), ChronoUnitSlice("HOURS"),
            compression="gzip", available_now=available_now)
        c.tracer.adopt(str(q.runId))
        return q

    def _drop(self, tag: str, f: int) -> None:
        """Publish file ``f`` atomically: copy under a hidden name (the file
        source skips names starting with ``.``), then rename."""
        src = self._path(tag, "src")
        os.makedirs(src, exist_ok=True)
        name = os.path.basename(self.files[f][0])
        shutil.copy(self.files[f][0], os.path.join(src, "." + name))
        os.rename(os.path.join(src, "." + name), os.path.join(src, name))

    def _drain(self, tag: str, files: range) -> list[float]:
        """Drain ``files`` under availableNow; returns the wall-clock times at
        which each batch's commit landed, preceded by the query's start."""
        for f in files:
            self._drop(tag, f)
        t = time.time()
        q = self._query(tag, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [t] + commit_times(self._path(tag, "archive"))

    def _check(self, tag: str, files) -> None:
        from guardian_for_apache_kafka_spark.operators.restore import restore_batch

        recs = [self.files[f][1] for f in files]
        want = (sum(len(r) for r in recs), int(sum(int(r.crc.sum()) for r in recs)))
        self.ctx.op(f"stream_{tag}_snapshot", lambda: noop_digest(
            restore_batch(self.ctx.spark, self._path(tag, "archive"), snapshot=True)), want)

    def trace_layers(self) -> None:
        from guardian_for_apache_kafka_spark.operators import commitlog
        from guardian_for_apache_kafka_spark.streaming.listener import ProgressListener

        c = self.ctx
        self.stage()
        self._drain("warm", range(STREAM_WARM_FILES))
        listener = ProgressListener()
        c.spark.streams.addListener(listener)

        backlog = range(STREAM_WARM_FILES, STREAM_WARM_FILES + STREAM_BACKLOG_FILES)
        with c.tracer.span("stream.drain"):
            times = c.op("stream_drain", lambda: self._drain("drain", backlog)) or [0.0]
        gaps = [b - a for a, b in zip(times, times[1:])]

        # phase 2: open loop for STREAM_OPEN_FILES files, then let them commit
        first = backlog.stop
        dest = self._path("open", "archive")
        due: list[float] = []
        late = 0.0
        backlog_max = 0
        with c.tracer.span("stream.open"):
            q = self._query("open", available_now=False)
            t0 = time.time() + 0.5
            while True:
                now = time.time()
                k = len(due)
                if k < STREAM_OPEN_FILES and now >= t0 + k * STREAM_DROP_INTERVAL_S:
                    self._drop("open", first + k)
                    due.append(t0 + k * STREAM_DROP_INTERVAL_S)
                    late = max(late, time.time() - due[-1])
                committed = len(commitlog.list_versions(dest))
                backlog_max = max(backlog_max, len(due) - committed)
                if committed >= STREAM_OPEN_FILES or q.exception() is not None or now > t0 + 120:
                    break
                time.sleep(0.05)
            q.stop()
        seen = commit_times(dest)
        c.attempted += len(due)
        if len(seen) < len(due) or q.exception() is not None:
            print(f"[perfbench] open loop: {len(seen)} of {len(due)} files committed; "
                  f"{q.exception()}", file=sys.stderr)
            c.failed += max(1, len(due) - len(seen))
        time.sleep(0.5)  # listener events arrive asynchronously
        c.spark.streams.removeListener(listener)
        progress = [p for p in listener.progress if p["numInputRows"]]
        self._check("drain", backlog)
        self._check("open", range(first, first + len(due)))

        lags = [s - d for s, d in zip(seen, due)]
        lag_tail, lag_pct = tail(lags)
        sizes = archive_sizes(self._path("drain", "archive"))
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress]
        add = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]
        c.layer.update({
            "stream.drain_batch_p50_s": median(gaps),
            "stream.drain_records_per_s":
                len(gaps) * STREAM_FILE_RECORDS / (times[-1] - times[0]) if gaps else 0.0,
            "stream.objects": sizes["objects"],
            "stream.bytes_per_record": sizes["stored"] / (len(backlog) * STREAM_FILE_RECORDS),
            "stream.batches": len(progress),
            "stream.trigger_p50_s": median(trig),
            "stream.add_batch_p50_s": median(add),
            "stream.overhead_p50_s": median([t - a for t, a in zip(trig, add)]),
            "stream.rows_per_batch": median([p["numInputRows"] for p in progress]),
            "stream.backlog_files_max": backlog_max,
            "stream.generator_late_s": late,
            "stream.lag_p50_s": median(lags),
            "stream.lag_tail_s": lag_tail,
            "stream.lag_tail_pct": lag_pct,
            "stream.lag_samples": len(lags),
        })


class NearDupQueries:
    """Registry queries d4 (MinHash-LSH), d6 (embedding LSH) and d3 (3-gram
    Jaccard) over a seeded corpus, each result checked against the query's
    DuckDB oracle. The reference is the three oracles' run time."""

    name = "near_dup_queries"
    unit = "pass"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.per_query = {q: [] for q in NEAR_DUP_QUERIES}
        self.checkpoints: list[int] = []

    def stage(self) -> None:
        c = self.ctx
        shutil.rmtree(c.path("corpus"), ignore_errors=True)
        os.makedirs(c.path("corpus"))
        gen.make_corpus(c.seed, CORPUS_DOCS, CORPUS_VECTORS, c.path("corpus"))

    def _oracle(self, sf_dir: str) -> dict:
        import duckdb

        from guardian_for_apache_kafka_spark.plans import REGISTRY
        from guardian_for_apache_kafka_spark.plans.differential import _canon

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            out = {}
            for q in NEAR_DUP_QUERIES:
                res = con.execute(REGISTRY[q].oracle)
                out[q] = _canon([d[0] for d in res.description],
                                [tuple(r) for r in res.fetchall()], precise=True)
            return out
        finally:
            con.close()

    def _run(self, q: str, sf_dir: str):
        """Build and collect one query; returns its canonical rows."""
        from guardian_for_apache_kafka_spark.plans import REGISTRY
        from guardian_for_apache_kafka_spark.plans.differential import _canon

        span = self.ctx.tracer.span
        with span("plan.build") as s:
            if s is not None:
                s.counts["query"] = q
            df = REGISTRY[q].builder(self.ctx.spark, sf_dir)
        with span("plan.exec"):
            rows = [tuple(r) for r in df.collect()]
        return _canon(list(df.columns), rows, precise=True)

    def _pass(self, sf_dir: str, expect: dict, count: bool = True) -> float:
        """Run each query once; returns the seconds spent in the queries.
        Checkpoint blocks are freed between queries, outside that time."""
        from guardian_for_apache_kafka_spark.session import free_local_checkpoints

        busy = 0.0
        for q in NEAR_DUP_QUERIES:
            t = time.perf_counter()
            self.ctx.op(q, lambda: self._run(q, sf_dir), expect[q], count)
            self.per_query[q].append(time.perf_counter() - t)
            busy += self.per_query[q][-1]
            with self.ctx.tracer.span("checkpoints.free"):
                self.checkpoints.append(free_local_checkpoints(self.ctx.spark))
        return busy

    def warm(self) -> None:
        c = self.ctx
        self.expect = self._oracle(c.path("corpus"))
        self._pass(c.path("corpus"), self.expect, count=False)
        self.per_query = {q: [] for q in NEAR_DUP_QUERIES}
        self.checkpoints = []

    def measure(self, seconds: float) -> None:
        c = self.ctx
        start = time.perf_counter()
        i = 1
        while i == 1 or time.perf_counter() - start < seconds:
            with c.tracer.span("pass", op=i):
                c.unit_s.append(self._pass(c.path("corpus"), self.expect))
            c.unit_records.append(CORPUS_DOCS + CORPUS_VECTORS)
            with c.tracer.span("reference"):
                t = time.perf_counter()
                self._oracle(c.path("corpus"))
                c.ref_s.append(time.perf_counter() - t)
            i += 1
        c.region = (start, time.perf_counter())

    def layers(self) -> None:
        L = self.ctx.layer
        for q in NEAR_DUP_QUERIES:
            L[f"plan.{q.split('_')[0]}_s"] = median(self.per_query[q])
        per_pass = len(NEAR_DUP_QUERIES)
        L["plan.checkpoint_rdds"] = median(
            [sum(self.checkpoints[i:i + per_pass]) for i in range(0, len(self.checkpoints), per_pass)])


WORKLOADS = {w.name: w for w in (ArchiveBatch, NearDupQueries)}
