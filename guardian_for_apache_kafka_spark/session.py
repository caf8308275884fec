"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB posture (SURVEY.md §4.2):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast-join conversion replace hand-tuned partition counts.
- shuffle.partitions sized to the local harness (32 cores); on a real cluster this
  is overridden to ~2-3x total cores and AQE coalesces down.
- Arrow enabled for the Pandas-UDF paths (minhash, embeddings, multimodal).
- `nanosAsLong` because the driver's events.parquet stores timestamp[ns]
  (TESTDATA.md / FIXTURES.md §B); the canonical loader converts to TimestampType.
- Python workers fork from `_worker_daemon` (`spark.python.daemon.module`), which
  stops each task from re-reading pyspark.zip, the py4j zip and the spark-core
  jar on CPython < 3.12 (see that module). The package root joins
  `spark.executorEnv.PYTHONPATH` so workers import the daemon from any cwd. A
  cluster whose executors have the package installed can set the same conf
  (see `cluster_defaults`).
"""

from __future__ import annotations

import os
import sysconfig

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WORKER_DAEMON = "guardian_for_apache_kafka_spark._worker_daemon"
# the directory that holds the package, which workers need on their path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath(user: str | None) -> str:
    """``user``'s worker PYTHONPATH with the package root appended. An
    installed package is left out: workers find it already, and a
    site-packages dir on PYTHONPATH would shadow the standard library."""
    parts = [p for p in (user or "").split(os.pathsep) if p]
    installed = {sysconfig.get_path("purelib"), sysconfig.get_path("platlib")}
    if _PACKAGE_ROOT not in parts and _PACKAGE_ROOT not in installed:
        parts.append(_PACKAGE_ROOT)
    return os.pathsep.join(parts)


def get_spark(
    app_name: str = "guardian-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    Any already-active session is reused (configs on an active session are not
    reapplied by Spark; tests share one session for speed).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing estimates cost by SHUFFLE BYTES; the engine's
        # CPU-dense stages (fold cosines / signature verifies over packed
        # arrays) carry 100x the cost-per-byte of plain columns, and the
        # default 1 MiB floor collapses them to a few tasks (measured 2x on
        # the SemDeDup pair scan). A 64 KiB floor keeps such stages at the
        # session's parallelism; genuinely large stages never coalesce near
        # the floor, so the 100 TB path is unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.daemon.module", WORKER_DAEMON)
    )
    extra_conf = dict(extra_conf or {})
    extra_conf["spark.executorEnv.PYTHONPATH"] = _worker_pythonpath(
        extra_conf.get("spark.executorEnv.PYTHONPATH")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def free_local_checkpoints(spark: SparkSession) -> int:
    """Unpersist every local-checkpoint RDD in the session; returns how many
    were freed. This is the explicit lifecycle for the engine's lazy
    ``localCheckpoint`` barriers (VERDICT r11 ask #6): checkpoint blocks are
    plan-instance-scoped and are never re-read once their DataFrame is
    discarded, but Spark only GCs them when the Python-side plan object is
    collected — in a long-lived session (a full-registry sweep, a service)
    dead blocks accumulate and the resulting memory/GC pressure was measured
    to slow later queries up to 21x (the r11 tier-3 q23 finding). Only RDDs
    whose ``isLocallyCheckpointed()`` is true are touched: a ``cache()``d
    DataFrame or a ``persist()``ed RDD keeps its blocks.

    Call ONLY between queries, when no live DataFrame from a previous build
    will be collected again: every local checkpoint goes, live or dead, and a
    local checkpoint TRUNCATES lineage, so a freed frame cannot be
    recomputed. Harness use (bench.py between timed runs, perfbench between
    queries) satisfies this — every run builds a fresh plan.
    Blocking so the removal cannot bleed into the next timed region."""
    # py4j exposes the java.util.Map as a Python mapping; snapshot the values
    # first — unpersist mutates the underlying persistentRdds map
    rdds = [
        rdd
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values()
        if rdd.rdd().isLocallyCheckpointed()
    ]
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


def cluster_defaults(
    total_cores: int = 4000,
    executor_cores: int = 4,
    executor_mem_gb: int = 28,
) -> dict[str, str]:
    """Recommended conf for a real multi-executor deployment of this engine
    (the local-mode defaults above are the same *policies* at harness
    scale). Returns a dict to pass as ``get_spark(extra_conf=...)`` or into
    spark-submit --conf. Rationale per knob:

    - shuffle.partitions ~ 2x total cores: AQE coalesces DOWN cheaply but
      cannot split an undersized map stage; 2x leaves headroom for skewed
      stage output without manual retuning per query.
    - maxPartitionBytes 256m: at 100 TB a 128m default creates 800k scan
      tasks; 256m halves scheduler pressure while staying within executor
      memory for the engine's widest rows (documents text + embeddings).
    - dynamicAllocation + shuffle tracking: the engine's pipelines
      alternate CPU-dense (signature, decode) and IO stages; fixed-size
      fleets idle half the time.
    - files.openCostInBytes 16m: archives produce many small slice files;
      a higher open cost packs them into fewer tasks (same effect the
      maintain/compact verb achieves on disk).
    - Arrow batch 2k: bounds Pandas-UDF batch memory for blob/embedding
      columns (multimodal decode, minhash signatures).
    - no autoBroadcastJoinThreshold bump: 32m is deliberate — at cluster
      scale a too-large broadcast OOMs the driver first; bucketing
      (operators/bucketing.py) is the right tool past that.

    Not in the dict: ``get_spark`` already sets
    ``spark.python.daemon.module`` to ``WORKER_DAEMON``, so no Python task
    re-reads pyspark.zip and the Spark jar (``_worker_daemon``). A cluster
    whose executors have the package installed can set the same conf
    through spark-submit; one whose executors lack it passes
    ``pyspark.daemon`` instead.
    """
    return {
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.files.openCostInBytes": str(16 * 1024 * 1024),
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverhead": f"{max(2, executor_mem_gb // 10)}g",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(total_cores // executor_cores),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
