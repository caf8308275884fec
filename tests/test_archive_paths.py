"""One destination, four spellings: every sessionless archive touch reaches
storage through ``operators/backup.resolve_fs``, so an absolute bare path, a
relative bare path, a ``file://`` URI and an aliased ``s3a://`` URI of the
same directory write the same objects and read back the same rows through
every writer and reader that touches the archive without a Spark session."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.core import normalize_events_to_records
from guardian_for_apache_kafka_spark.core.model import RECORD_SCHEMA
from guardian_for_apache_kafka_spark.core.timeslice import ChronoUnitSlice
from guardian_for_apache_kafka_spark.operators import list_backup_keys, write_guardian_format
from guardian_for_apache_kafka_spark.sources.guardian_source import register_guardian_datasource
from guardian_for_apache_kafka_spark.sources.tables import load_table
from guardian_for_apache_kafka_spark.streaming.pipeline import records_file_stream

ALIAS_VAR = "SPARK_GRAFT_SCHEME_ALIASES"


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    return normalize_events_to_records(ev).withColumn(
        "timestamp", F.timestamp_millis(F.unix_millis("timestamp"))
    ).select(*RECORD_SCHEMA.fieldNames())


def _tree(root: str) -> dict:
    """Relative path -> bytes of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def _rows(df) -> set:
    return {tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in df.collect()}


def _every_surface(spark, records, src: str, ckpt: str, root: str, spell) -> dict:
    """Write and read one archive through each sessionless surface, naming
    every destination ``spell(<absolute dir>)``; return what landed on disk
    (read back by absolute path) and what the readers returned."""
    bulk, ds, stream = (os.path.join(root, d) for d in ("bulk", "ds", "stream"))
    keys = write_guardian_format(
        records, spell(bulk), ChronoUnitSlice("HOURS"), compression="gzip"
    )
    listed = list_backup_keys(spell(bulk))
    records.repartition(2).write.format("guardian").option("chronoUnitSlice", "hours").option(
        "compression", "gzip"
    ).mode("append").save(spell(ds))
    read_bulk = _rows(spark.read.format("guardian").load(spell(bulk)))
    read_ds = _rows(spark.read.format("guardian").load(spell(ds)))
    # one shared checkpoint location: the stream writer names its files by
    # a hash of it, so every spelling must pass the same string
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        records_file_stream(spark, src).writeStream.format("guardian")
        .option("chronoUnitSlice", "hours")
        .option("compression", "gzip")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(spell(stream))
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return {
        "keys": keys, "listed": listed, "read_bulk": read_bulk, "read_ds": read_ds,
        "bulk": _tree(bulk), "ds": _tree(ds), "stream": _tree(stream),
    }


@pytest.fixture(scope="module")
def seam(spark, records, tmp_path_factory):
    """The records as a one-file stream source, the shared checkpoint
    location, and the absolute-path run every spelling must equal."""
    register_guardian_datasource(spark)
    base = tmp_path_factory.mktemp("seam")
    src, ckpt = str(base / "src"), str(base / "ckpt")
    records.coalesce(1).write.parquet(src)
    want = _every_surface(spark, records, src, ckpt, str(base / "want"), lambda p: p)
    assert want["keys"] and want["listed"] == want["keys"]
    assert want["read_bulk"] == want["read_ds"] == _rows(records)
    assert want["stream"]
    return src, ckpt, want


@pytest.fixture
def s3a_alias(spark, monkeypatch):
    """``s3a`` aliased to the local filesystem for the driver and for every
    Python worker: workers take their environment from the SparkContext's
    (a job's functions are wrapped with it, the DataSource when it is
    registered), so the DataSource is registered again on both sides."""
    env = spark.sparkContext.environment
    monkeypatch.setenv(ALIAS_VAR, "s3a=file")
    env[ALIAS_VAR] = "s3a=file"
    register_guardian_datasource(spark)
    try:
        seen = spark.sparkContext.parallelize([0], 1).map(
            lambda _: os.environ.get(ALIAS_VAR)
        ).collect()
        assert seen == ["s3a=file"]
        yield
    finally:
        del env[ALIAS_VAR]
        register_guardian_datasource(spark)


@pytest.mark.parametrize("spelling", ["absolute", "relative", "file_uri", "s3a_alias"])
def test_one_destination_four_spellings(
    spark, records, seam, tmp_path, monkeypatch, request, spelling
):
    """Object names, bytes and rows are the absolute-path run's for each
    spelling. The relative case runs in the JVM's cwd, which is where
    Spark's Python workers resolve relative paths; pyarrow's ``from_uri``
    alone would reject it."""
    src, ckpt, want = seam
    if spelling == "absolute":
        spell = lambda p: p  # noqa: E731
    elif spelling == "relative":
        monkeypatch.chdir(spark._jvm.java.lang.System.getProperty("user.dir"))
        spell = os.path.relpath
    elif spelling == "file_uri":
        spell = lambda p: f"file://{p}"  # noqa: E731
    else:
        request.getfixturevalue("s3a_alias")
        spell = lambda p: f"s3a://{p}"  # noqa: E731
    got = _every_surface(spark, records, src, ckpt, str(tmp_path / "got"), spell)
    for part in ("keys", "listed", "read_bulk", "read_ds"):
        assert got[part] == want[part], part
    for part in ("bulk", "ds", "stream"):
        assert sorted(got[part]) == sorted(want[part]), part
        assert got[part] == want[part], part
