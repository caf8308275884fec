"""Every expensive per-row kernel runs once per query.

``layout.spread_narrow_scan`` round-robins a narrow scan so that per-row
kernels (shingle building, MinHash/SimHash signatures, hyperplane buckets)
run on every core. The optimizer pushes a filter through projections and
through a round-robin ``Repartition``, so a filter on a kernel column placed
after the spread lands BELOW the exchange: the kernel then runs once serially
in the single scan task and once more in parallel after the exchange.

The guard walks optimized logical plans, not executed ones: an executed plan
shows a ``localCheckpoint`` input only as ``Scan ExistingRDD``, which is how
this duplication went unseen. It patches ``DataFrame.localCheckpoint`` to
collect every checkpoint input a builder creates and checks those plans and
the query's final frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from guardian_for_apache_kafka_spark.plans import REGISTRY

_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def _children(node):
    it = node.children().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _kernel_offences(spark, plan) -> list[str]:
    """Nodes below a round-robin repartition that evaluate a kernel: a
    Python evaluation node, or a Filter whose condition holds a
    higher-order function or a Python UDF."""
    cls = spark._jvm.java.lang.Class
    kernel_types = [
        cls.forName("org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"),
        cls.forName("org.apache.spark.sql.catalyst.expressions.PythonUDF"),
    ]

    def has_kernel(expr) -> bool:
        return any(t.isInstance(expr) for t in kernel_types) or any(
            has_kernel(c) for c in _children(expr)
        )

    def walk(node, below: bool) -> list[str]:
        name = node.nodeName()
        found = []
        if below and name in _PY_EVAL:
            found.append(name)
        if below and name == "Filter" and has_kernel(node.condition()):
            found.append(f"Filter({node.condition().sql()[:120]})")
        round_robin = (name == "Repartition" and node.shuffle()) or (
            name == "RepartitionByExpression" and node.partitionExpressions().isEmpty()
        )
        for child in _children(node):
            found += walk(child, below or round_robin)
        return found

    return walk(plan, False)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_kernel_evaluated_below_the_spread_exchange(spark, sf_dir, monkeypatch, name):
    inputs = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        inputs.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    final = REGISTRY[name].builder(spark, sf_dir)
    offences = [
        o
        for df in inputs + [final]
        for o in _kernel_offences(spark, df._jdf.queryExecution().optimizedPlan())
    ]
    assert not offences, offences


def test_d6_collect_runs_the_cosine_stage_once(spark, sf_dir, monkeypatch):
    """d6 ends in a global sort. Its range exchange samples its input stage
    in a job of its own, so a cosine kernel inside that stage would score
    every candidate pair twice. The kernel must see each candidate once: as
    many rows as an unsorted collect of the same operator feeds it."""
    from pyspark.sql.functions import pandas_udf

    from guardian_for_apache_kafka_spark.functions import columns
    from guardian_for_apache_kafka_spark.operators.dedup import embedding_near_dup_pairs
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    kernel = columns.cosine_similarity_udf().func
    scored = spark.sparkContext.accumulator(0)

    def counting_cosine_udf():
        @pandas_udf("double")
        def _cos(a, b):
            scored.add(len(a))
            return kernel(a, b)

        return _cos.asNondeterministic()

    monkeypatch.setattr(columns, "cosine_similarity_udf", counting_cosine_udf)
    emb = load_table(spark, sf_dir, "embeddings")
    embedding_near_dup_pairs(emb, threshold=0.3, planes=8, tables=8, sign_hash="md5").collect()
    candidates = scored.value
    assert candidates > 0
    REGISTRY["d6_embedding_near_dup"].builder(spark, sf_dir).collect()
    assert scored.value - candidates == candidates


def test_hyperplane_signs_memoized_per_session(spark, count_jobs):
    from guardian_for_apache_kafka_spark.functions.columns import hyperplane_signs

    first, jobs = count_jobs(lambda: hyperplane_signs(spark, 7, 3, 2, sign_hash="md5"))
    again, jobs_again = count_jobs(lambda: hyperplane_signs(spark, 7, 3, 2, sign_hash="md5"))
    assert (jobs, jobs_again) == (1, 0)
    assert again is first
    assert not first.flags.writeable
    other = hyperplane_signs(spark, 7, 3, 2)
    assert other is not first and other.shape == first.shape == (2, 3, 7)
