"""The Python worker daemon (``_worker_daemon``): a task's
``importlib.invalidate_caches()`` re-reads no unchanged archive, still
re-reads a changed one, and workers run the driver's pyspark from any cwd."""

import os
import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pyspark

from guardian_for_apache_kafka_spark import _worker_daemon
from guardian_for_apache_kafka_spark.session import WORKER_DAEMON

REPO = Path(__file__).resolve().parents[1]


def _in_task(spark, fn):
    """``fn()``'s value, computed in one Python task."""
    return spark.sparkContext.parallelize([0], 1).mapPartitions(lambda _: [fn()]).collect()[0]


def test_session_uses_worker_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON


def test_task_invalidate_caches_rereads_no_archive(spark):
    """pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task; with the daemon, no zipimporter on the path re-reads its archive."""

    def count_rereads():
        import importlib
        import sys
        import zipimport

        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: calls.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        return len(importers), calls

    importers, rereads = _in_task(spark, count_rereads)
    assert importers >= 1
    assert rereads == []


def test_task_rereads_a_rewritten_archive(spark, tmp_path):
    """An archive rewritten in place (another size) is read again: a module
    only the new archive holds imports after ``invalidate_caches()``."""
    archive = str(tmp_path / "mods.zip")

    def import_after_rewrite():
        import importlib
        import sys
        import zipfile

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("m1.py", "X = 1\n")
        sys.path.insert(0, archive)
        try:
            import m1

            importlib.invalidate_caches()  # stamps the archive
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("m2.py", "X = 2  # a longer file\n")
            importlib.invalidate_caches()
            import m2

            return m1.X, m2.X
        finally:
            sys.path.remove(archive)

    assert _in_task(spark, import_after_rewrite) == (1, 2)


def test_install_is_a_no_op_from_python_312(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    _worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_workers_run_the_drivers_pyspark(spark):
    """Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, the
    driver from its own install: a drifting SPARK_HOME fails here."""

    def worker_version():
        import pyspark

        return pyspark.__version__

    assert _in_task(spark, worker_version) == pyspark.__version__


def test_pandas_udf_from_a_cwd_outside_the_repo(tmp_path):
    """With the package found through ``sys.path`` only (no PYTHONPATH, cwd
    outside the repo), workers still import the daemon and run a pandas UDF."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from guardian_for_apache_kafka_spark import get_spark

        spark = get_spark(master="local[1]", extra_conf={{"spark.ui.showConsoleProgress": "false"}})

        @F.pandas_udf("string")
        def invalidate_name(v: pd.Series) -> pd.Series:
            import zipimport
            return v.map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)

        rows = spark.range(3).select(invalidate_name("id").alias("n")).collect()
        print("RESULT", sorted({{r.n for r in rows}}))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env |= {"SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    want = "_invalidate_if_changed" if sys.version_info < (3, 12) else "invalidate_caches"
    assert f"RESULT ['{want}']" in out.stdout, out.stdout[-2000:]
