"""Guardian data-path benchmark.

    python3 perfbench/run.py --workload archive_batch --seed 1 --seconds 15 --trace 0

Runs one seeded workload (see `perfbench/workloads.py`) against the
``guardian_for_apache_kafka_spark`` package found next to this directory,
checks every output, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
and a Spark event log and the metrics are the per-layer ones. The spans of
a traced run are written to ``.perfbench/traces/``.

End-to-end metrics:
  setup_s      session start + median of three input stagings + warm-up
  wall_vs_ref  median over units of (unit seconds / the DuckDB reference's
               seconds timed right after it); see workloads.py
  peak_rss_mb  peak RSS of the JVM and this process + peak summed Python-worker RSS
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4  # local[4]: the sizes in workloads.py were set for four cores

END_TO_END = {
    "setup_s": "s",
    "wall_vs_ref": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "backup.committed_s": "s",
    "backup.write_job_s": "s",
    "backup.commit_s": "s",
    "backup.objects": "count",
    "backup.stored_bytes": "B",
    "backup.wire_bytes": "B",
    "backup.bytes_per_record": "B",
    "backup.task_skew": "ratio",
    "commitlog.versions": "count",
    "commitlog.log_bytes": "B",
    "commitlog.snapshot_s": "s",
    "stream.drain_batch_p50_s": "s",
    "stream.drain_records_per_s": "1/s",
    "stream.objects": "count",
    "stream.bytes_per_record": "B",
    "stream.batches": "count",
    "stream.trigger_p50_s": "s",
    "stream.add_batch_p50_s": "s",
    "stream.overhead_p50_s": "s",
    "stream.rows_per_batch": "count",
    "stream.backlog_files_max": "count",
    "stream.generator_late_s": "s",
    "stream.lag_p50_s": "s",
    "stream.lag_tail_s": "s",
    "stream.lag_tail_pct": "%",
    "stream.lag_samples": "count",
    "restore.list_s": "s",
    "restore.prune_s": "s",
    "restore.keys_listed": "count",
    "restore.keys_kept": "count",
    "restore.scan_s": "s",
    "restore.pit_s": "s",
    "restore.rows_out": "count",
    "source.read_s": "s",
    "source.partitions": "count",
    "source.keys_in_snapshot": "count",
    "source.rows_out": "count",
    "compaction.s": "s",
    "compaction.rows_in": "count",
    "compaction.rows_out": "count",
    "compaction.shuffle_bytes": "B",
    "plan.build_s": "s",
    "plan.exec_s": "s",
    "plan.d4_s": "s",
    "plan.d6_s": "s",
    "plan.d3_s": "s",
    "plan.jobs": "count",
    "plan.stages": "count",
    "plan.checkpoint_rdds": "count",
    "plan.shuffle_bytes": "B",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.region_s": "s",
    "trace.unit_s": "s",
    "trace.ref_s": "s",
    "trace.unit_vs_ref": "ratio",
    "trace.records_per_s": "1/s",
    "trace.unit_self_s": "s",
    "trace.top_coverage": "ratio",
}

def start_session(work: str, traced: bool):
    from guardian_for_apache_kafka_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms2g",
        # Python workers import the package by name (write_array_objects
        # pickles closures that reference it)
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if traced:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        }
    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def span_layers(tracer, tasks: dict, unit_name: str, region: tuple[float, float]) -> dict:
    """Per-layer numbers derived from spans and their event-log totals."""
    from perfbench.trace import TASK_FIELDS

    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.id, []))
        return out

    def totals(s) -> dict:
        acc = {k: 0 for k in TASK_FIELDS}
        stages: dict = {}
        for x in subtree(s):
            t = tasks.get(x.id)
            if t:
                for k in TASK_FIELDS:
                    acc[k] += t[k]
                stages.update(t["stage_task_s"])
        acc["stage_task_s"] = stages
        return acc

    def med(xs) -> float:
        return statistics.median(xs) if xs else 0.0

    def skew(s) -> float:
        stages = totals(s)["stage_task_s"]
        if not stages:
            return 0.0
        heavy = max(stages.values(), key=sum)
        m = statistics.median(heavy)
        return max(heavy) / m if m else 0.0

    L: dict = {}
    backup = tracer.named("backup.committed")
    if backup:
        L["backup.committed_s"] = med([s.seconds for s in backup])
        L["backup.write_job_s"] = med([totals(s)["job_s"] for s in backup])
        L["backup.commit_s"] = med([s.seconds - totals(s)["job_s"] for s in backup])
        L["backup.task_skew"] = med([skew(s) for s in backup])
    for name, key in (("restore.scan", "restore.scan_s"), ("restore.pit", "restore.pit_s"),
                      ("compaction", "compaction.s")):
        L[key] = med([s.seconds for s in tracer.named(name)])
    L["compaction.shuffle_bytes"] = med(
        [totals(s)["shuffle_write_bytes"] for s in tracer.named("compaction")])
    units = tracer.named(unit_name)
    passes = tracer.named("pass")
    if passes:
        def in_pass(p, name):
            return [x for x in subtree(p) if x.name == name]
        L["plan.build_s"] = med([sum(x.seconds for x in in_pass(p, "plan.build")) for p in passes])
        L["plan.exec_s"] = med([sum(x.seconds for x in in_pass(p, "plan.exec")) for p in passes])
        L["plan.jobs"] = med([totals(p)["jobs"] for p in passes])
        L["plan.stages"] = med([totals(p)["stages"] for p in passes])
        L["plan.shuffle_bytes"] = med([totals(p)["shuffle_write_bytes"] for p in passes])
    for k in ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        L[f"spark.{k}"] = med([totals(u)[k] for u in units])
    L["trace.unit_self_s"] = med([tracer.self_seconds(u) for u in units])
    top = [s for s in tracer.spans
           if s.parent is None and region[0] <= s.start and s.end <= region[1]]
    L["trace.region_s"] = region[1] - region[0]
    L["trace.top_coverage"] = sum(s.seconds for s in top) / L["trace.region_s"]
    return L


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "guardian_for_apache_kafka_spark")):
        print(f"perfbench: no guardian_for_apache_kafka_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d))
    # the JVM's Python workers merge this with spark.executorEnv.PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def unit_vs_ref(ctx) -> float:
    return statistics.median(u / r for u, r in zip(ctx.unit_s, ctx.ref_s))


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it, so no process outlives the run."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from perfbench import trace, workloads

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    rss = trace.RssSampler(spark.sparkContext._gateway.proc.pid)
    rss.start()
    tracer = trace.Tracer(spark, bool(args.trace))
    ctx = workloads.Ctx(spark, tracer, work, args.seed)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        stage_s = []
        for _ in range(3):
            t = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(stage_s) + warm_s
        print(f"[perfbench] setup {setup_s:.2f} s: session {session_s:.2f}, "
              f"stage {stage_s}, warm-up {warm_s:.2f}", file=sys.stderr)
        tracer.reset()
        wl.measure(args.seconds)
        print(f"[perfbench] units {[round(x, 3) for x in ctx.unit_s]} "
              f"references {[round(x, 3) for x in ctx.ref_s]}", file=sys.stderr)
        if args.trace:
            wl.layers()
    finally:
        peak_mb = rss.stop_mb()
        stop_session(spark)

    if args.trace:
        tasks = trace.event_log_by_span(os.path.join(work, "events"), tracer.groups)
        layer = {k: 0 for k in PER_LAYER}
        layer["session.start_s"] = session_s
        layer |= ctx.layer
        layer |= span_layers(tracer, tasks, wl.unit, ctx.region)
        layer["trace.unit_s"] = statistics.median(ctx.unit_s)
        layer["trace.ref_s"] = statistics.median(ctx.ref_s)
        # minus the untraced wall_vs_ref, the tracing overhead
        layer["trace.unit_vs_ref"] = unit_vs_ref(ctx)
        layer["trace.records_per_s"] = sum(ctx.unit_records) / sum(ctx.unit_s)
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), tasks)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = {
            "setup_s": setup_s,
            "wall_vs_ref": unit_vs_ref(ctx),
            "peak_rss_mb": peak_mb,
        }
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
