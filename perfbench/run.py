#!/usr/bin/env python3
"""Benchmark of the docs KG-construction pipeline
(``abecto_spark.plans.pipeline.DocsPipeline.run``), driven from outside
through its public entry point.

Run from the repository root:

    python3 perfbench/run.py --workload docs_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all

One process is one closed-loop client on local[4]: the next pipeline job
starts only when the previous one has ended, as a batch engine is used.
A run starts the session with the event log on only when traced, makes
one untimed warm-up job on a small input, writes the seeded input to
parquet several times (the median counts as set-up), then times jobs
until ``--seconds`` have passed. Every timed job's output is checked
outside the timed region. With ``--trace 1`` the loop stops after one
job; then one traced job runs and its per-stage numbers are printed
instead of the end-to-end ones. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
progress and a readable summary go to stderr. All files go under
``.perfbench_work/`` in the repository root; only the trace file of a
traced run is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
INPUT_REPEATS = 3
# stop starting jobs once a run nears this age, to end well inside 180 s
DEADLINE_S = 150.0
# north-rule floor on link precision (BASELINE.json)
MIN_PRECISION = 0.95
# what every stage span reports, with its unit; GC time is reported for
# the whole traced job only, since a short stage often reads 0 s
SPAN_UNITS = {
    "wall_s": "s",
    "jvm_cpu_s": "s",
    "py_cpu_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "rows_out": "rows",
    "bytes_written": "bytes",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# ---------------------------------------------------------------------------
# session


def start_session(work: str, event_log: str | None):
    from abecto_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every JVM started, the launcher's too, keeps its temp files inside
    # the checkout and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap keeps heap resizing out of the timings
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.local.dir": tmp,
    }
    if event_log is not None:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    return get_spark(
        app_name="perfbench", master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# jobs and checks


def pipeline_job(spark, docs, store, jvm_pid: int):
    """One pipeline run from scratch: (result, wall_s, cpu_s)."""
    from abecto_spark.plans.pipeline import DocsPipeline, PipelineConfig
    from procfs import tree_cpu

    cpu0 = sum(tree_cpu(jvm_pid))
    t0 = time.perf_counter()
    result = DocsPipeline(spark, store, PipelineConfig()).run(docs, resume=False)
    wall = time.perf_counter() - t0
    return result, wall, sum(tree_cpu(jvm_pid)) - cpu0


def check_job(wl, result, truth) -> tuple[list[str], float, float]:
    """Output checks of one job: (problems, link precision, link recall)."""
    from pyspark.sql import functions as F

    from quality import pair_quality

    problems = []
    n_triples = result.metrics["s4_triples"]["row_count"]
    if n_triples != 2 * wl.n_docs:
        problems.append(f"{n_triples} triples, expected {2 * wl.n_docs}")
    cells = (
        truth.join(
            result.canonical.withColumnRenamed("resource", "doc_id"),
            "doc_id", "left",
        )
        .groupBy(F.coalesce("canonical_id", "doc_id").alias("c"), "entity_id")
        .count()
        .collect()
    )
    if sum(r[2] for r in cells) != wl.n_docs:
        problems.append("canonical map does not cover every doc once")
    precision, recall = pair_quality(cells)
    # Recall is reported, not gated: when all three surface forms of an
    # entity carry a typo, two of them can score below the JW threshold
    # and the entity splits, as the linking semantics say it should. With
    # docs_hot's five hot entities one such split costs about a tenth of
    # all true pairs, depending on the seed.
    if precision < MIN_PRECISION:
        problems.append(f"link precision {precision:.4f} < {MIN_PRECISION}")
    return problems, precision, recall


# ---------------------------------------------------------------------------
# traced run


def traced_job(spark, docs, root: str, jvm_pid: int):
    """(result, wall_s, spans, extra layer counts) of one traced job."""
    from abecto_spark.operators.extract import mentions_as_values
    from abecto_spark.operators.jw_mapping import value_index
    from abecto_spark.plans.pipeline import DocsPipeline, PipelineConfig

    from tracing import TracingStore

    cfg = PipelineConfig()
    store = TracingStore(spark, root, jvm_pid)
    t0 = time.perf_counter()
    result = DocsPipeline(spark, store, cfg).run(docs, resume=False)
    wall = time.perf_counter() - t0
    store.finish()
    # layer counts, outside every span
    values_in = (
        value_index(mentions_as_values(result.mentions), list(cfg.variables),
                    cfg.case_sensitive)
        .select("dataset", "variable", "value").distinct().count()
    )
    extra = {
        "s2_edges.values_in": metric(values_in, "count"),
        "s2_edges.links_per_value": metric(
            result.metrics["s2_edges"]["row_count"] / values_in, "ratio"
        ),
        "s3_canonical.clusters": metric(
            result.canonical.select("canonical_id").distinct().count(), "count"
        ),
    }
    return result, wall, store.spans, extra


def layer_metrics(spans: list[dict], event_log: str) -> dict:
    from eventlog import read_events, totals_by_group

    totals = totals_by_group(read_events(event_log))
    out = {}
    for span in spans:
        span.update(totals.get(span["group"], {}))
        for field, unit in SPAN_UNITS.items():
            out[f"{span['name']}.{field}"] = metric(span.get(field, 0), unit)
    out["jvm.gc_s"] = metric(sum(span.get("gc_s", 0.0) for span in spans), "s")
    return out


# ---------------------------------------------------------------------------
# one workload


def run_workload(args) -> tuple[dict, bool]:
    import workloads
    from procfs import RssPeak
    from tracing import dir_bytes

    t_proc = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=WORK)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    # Spark shuffle files and Python temp files stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # Python workers import abecto_spark from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    attempted = failed = 0
    walls, cpus, snap_bytes, precisions, recalls = [], [], [], [], []
    metrics: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, event_log)
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        from abecto_spark.sources.checkpoint import SnapshotStore

        # warm-up: one untimed job on a small input of the same shape,
        # which also starts the Python workers
        t0 = time.perf_counter()
        pipeline_job(
            spark, workloads.docs(spark, wl.warmup(), args.seed),
            SnapshotStore(spark, os.path.join(work, "warmup")), jvm_pid,
        )
        warmup_s = time.perf_counter() - t0
        input_s = []
        for rep in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            docs = workloads.materialize(
                workloads.docs(spark, wl, args.seed), os.path.join(work, f"docs{rep}")
            )
            input_s.append(time.perf_counter() - t0)
        setup_s = session_s + warmup_s + statistics.median(input_s)
        log(f"{wl.name}: session {session_s:.2f} s, warm-up {warmup_s:.2f} s, "
            f"inputs {', '.join(f'{t:.2f}' for t in input_s)} s")
        # the checker's ground truth is not part of set-up
        truth = workloads.materialize(
            workloads.truth(spark, wl, args.seed), os.path.join(work, "truth")
        )

        with RssPeak(jvm_pid) as rss:
            t_loop = time.perf_counter()
            while True:
                attempted += 1
                root = os.path.join(work, f"job{attempted}")
                try:
                    result, wall, cpu = pipeline_job(
                        spark, docs, SnapshotStore(spark, root), jvm_pid
                    )
                    problems, precision, recall = check_job(wl, result, truth)
                except Exception:
                    log(traceback.format_exc())
                    failed += 1
                else:
                    walls.append(wall)
                    cpus.append(cpu)
                    snap_bytes.append(dir_bytes(root))
                    precisions.append(precision)
                    recalls.append(recall)
                    if problems:
                        failed += 1
                        log(f"job {attempted} check failed: {'; '.join(problems)}")
                shutil.rmtree(root, ignore_errors=True)
                now = time.perf_counter()
                last = walls[-1] if walls else now - t_loop
                # a traced run needs one untraced job to compare against
                if args.trace or now - t_loop >= args.seconds or (
                    now - t_proc + 1.3 * last > DEADLINE_S
                ):
                    break

        if walls:
            run_s = statistics.median(walls)
            log(f"{wl.name}: run_s median {run_s:.3f} s, max {max(walls):.3f} s, "
                f"n={len(walls)} jobs ({', '.join(f'{w:.2f}' for w in walls)}); "
                f"cpu_s median {statistics.median(cpus):.2f} s")
            metrics = {
                "run_s": metric(run_s, "s"),
                "docs_per_s": metric(wl.n_docs / run_s, "docs/s"),
                "cpu_s": metric(statistics.median(cpus), "s"),
                "setup_s": metric(setup_s, "s"),
                "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
                "snapshot_bytes": metric(statistics.median(snap_bytes), "bytes"),
                "link_precision": metric(statistics.median(precisions), "ratio"),
                "link_recall": metric(statistics.median(recalls), "ratio"),
            }

        if args.trace and walls:
            from abecto_spark.plans.pipeline import verify_span_invariant

            attempted += 1
            metrics = {}
            try:
                result, wall, spans, extra = traced_job(
                    spark, docs, os.path.join(work, "traced"), jvm_pid
                )
                problems, _, _ = check_job(wl, result, truth)
                violations = verify_span_invariant(docs, result.triples)
            except Exception:
                log(traceback.format_exc())
                failed += 1
            else:
                if violations:
                    problems.append(f"{violations} span-invariant violations")
                if problems:
                    failed += 1
                    log(f"traced job check failed: {'; '.join(problems)}")
                # stopping Spark closes the event log
                stop_session(spark)
                spark = None
                metrics = layer_metrics(spans, event_log)
                metrics.update(extra)
                metrics["session.wall_s"] = metric(session_s, "s")
                metrics["tracing_overhead_s"] = metric(
                    wall - statistics.median(walls), "s"
                )
                write_trace(args, wl.name, spans, wall, walls)
                stage_sum = sum(s["wall_s"] for s in spans)
                log(f"{wl.name} traced job: {wall:.2f} s; stage shares " + ", ".join(
                    f"{s['name']} {s['wall_s'] / stage_sum:.0%}" for s in spans
                ))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = bool(walls) and failed == 0
    log(f"{wl.name}: run took {time.perf_counter() - t_proc:.1f} s")
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }, correct


def write_trace(args, name: str, spans: list[dict], wall: float, walls: list[float]) -> None:
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {"workload": name, "seed": args.seed, "traced_run_s": wall,
             "untraced_run_s": walls, "spans": spans},
            fh, indent=1,
        )
    log(f"spans written to {path}")


# ---------------------------------------------------------------------------
# every workload


def run_all(args) -> int:
    """Run each workload in its own process; print every metric by name
    and unit; non-zero exit when any run fails or any check fails."""
    from workloads import WORKLOADS

    summary, ok = {}, True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = {"correct": False, "metrics": {}}
        ok &= proc.returncode == 0 and res["correct"]
        summary[name] = res
        for key, m in res["metrics"].items():
            print(f"{name:<10} {key:<34} {m['value']:>16.6g} {m['unit']}")
        print(f"{name:<10} correct={res['correct']} attempted={res.get('attempted')}"
              f" failed={res.get('failed')} exit={proc.returncode}")
    print(json.dumps(summary))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "abecto_spark")):
        log(f"perfbench: no abecto_spark package in {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)

    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    result, correct = run_workload(args)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
