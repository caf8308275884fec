"""bench.py, the query-measurement module: its engine-vs-stock alternation,
its replica-scaled corpus builder, and an import check of bench and of every
file left in ``scripts/``."""

import importlib
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def test_paired_alternates_and_returns_one_measured_run_per_side():
    """One warm-up run per side, then N_RUNS engine/stock pairs back to
    back; each side's value is one of its measured runs, never a mean."""
    calls = []
    times = {
        "engine": iter([50.0, 3.0, 1.0, 2.5]),
        "stock": iter([60.0, 7.0, 9.0, 8.5]),
    }

    def run(build):
        calls.append(build)
        return next(times[build])

    engine, stock = bench.paired(run, "engine", "stock")
    assert calls == ["engine", "stock"] * (1 + bench.N_RUNS)
    assert (engine, stock) == (2.5, 8.5)


def test_build_scale_doubles_the_corpus_with_disjoint_replicas(
    spark, sf_dir, tmp_path, monkeypatch, count_jobs
):
    monkeypatch.setattr(bench, "WORK", str(tmp_path))
    out = bench.build_scale(spark, 2, base=sf_dir)
    assert out.startswith(str(tmp_path))

    docs = {r.doc_id: r for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    embs = {
        r.vec_id: list(r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    x_docs = spark.read.parquet(f"{out}/documents.parquet").collect()
    x_embs = spark.read.parquet(f"{out}/embeddings.parquet").collect()
    assert len(x_docs) == 2 * len(docs)
    assert len(x_embs) == 2 * len(embs)

    offset = 10_000_000
    replica_docs = [r for r in x_docs if r.doc_id not in docs]
    assert {r.doc_id for r in replica_docs} == {i + offset for i in docs}
    assert not set(docs) & {r.doc_id for r in replica_docs}
    for r in replica_docs:
        src = docs[r.doc_id - offset]
        tokens = r.text.split(" ")
        assert all(t.endswith("~1") for t in tokens)
        assert [t[:-2] for t in tokens] == src.text.split(" ")
        assert (r.lang, r.source, r.n_chars) == (src.lang, src.source, src.n_chars)

    replica_embs = {r.vec_id: list(r.embedding) for r in x_embs if r.vec_id not in embs}
    assert set(replica_embs) == {i + offset for i in embs}
    for vec_id, vec in replica_embs.items():
        src = embs[vec_id - offset]
        rot = 7 % len(src)
        assert vec == src[rot:] + src[:rot]

    for t in "region nation customer supplier part orders lineitem events".split():
        link = os.path.join(out, f"{t}.parquet")
        assert os.path.islink(link)
        assert os.readlink(link) == f"{sf_dir}/{t}.parquet"

    again, jobs = count_jobs(lambda: bench.build_scale(spark, 2, base=sf_dir))
    assert again == out
    assert jobs == 0


@pytest.mark.parametrize(
    "module",
    ["bench"] + sorted(f"scripts.{p.stem}" for p in (REPO / "scripts").glob("*.py")),
)
def test_measurement_modules_import(module):
    """A helper moved between modules leaves no dangling import behind."""
    importlib.import_module(module)
