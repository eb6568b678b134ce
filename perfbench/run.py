"""Benchmark command: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 5 --trace 0

Run it from the repository root. It generates its inputs from the seed
under ``perfbench/.work/``, starts a local Spark session through the
package's ``session.get_spark``, runs the workload, checks the outputs
and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns the
Spark UI on, records spans and prints the per-layer metrics. Every run
also writes a record (environment, set-up phases, every figure measured
and, traced, the per-layer side file) to ``perfbench/.out/``. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("corpus_folds", "ingest_trickle", "olap_warehouse")

# Printed with --trace 0: name → unit.
END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "setup_s": "s",
    "retained_mb": "MB",
}
# Printed with --trace 1: name → (key in probes.spark_figures, unit).
PER_LAYER = {
    "op.wall_ms": ("wall_ms_per_op", "ms"),
    "spark.jobs_per_op": ("jobs_per_op", "count"),
    "spark.stages_per_op": ("stages_per_op", "count"),
    "spark.tasks_per_op": ("tasks_per_op", "count"),
    "spark.executor_run_ms_per_op": ("executor_run_ms_per_op", "ms"),
    "spark.executor_cpu_ms_per_op": ("executor_cpu_ms_per_op", "ms"),
    "spark.shuffle_write_bytes_per_op": ("shuffle_write_bytes_per_op", "bytes"),
    "spark.core_busy_share": ("core_busy_share", "share"),
    "spark.driver_gap_share": ("driver_gap_share", "share"),
    "tracing.self_share": ("tracing_self_share", "share"),
}


def _cores() -> int:
    """Spark cores: every CPU this process may run on, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _driver_memory() -> str:
    """Driver heap: a fifth of host memory, between 1 and 3 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(3, total_kb // (5 * 1024 * 1024)))}g"


def _pin_environment(work: str, trace: bool) -> int:
    """Pin the Spark runtime before pyspark is imported: core count,
    driver memory, every scratch directory under ``work``, UI only when
    tracing."""
    cores = _cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the host's /tmp.
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
    ]
    if trace:
        confs += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    submit = [arg for conf in confs for arg in ("--conf", conf)] + ["pyspark-shell"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": _driver_memory(),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_FOLD_STATE_DIR": work,
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    })
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    return cores


def _end_to_end(out, setup_s: float, retained_mb: float) -> dict:
    values = {
        "latency_p50_s": probes.percentile(out.latencies, 50),
        "latency_p90_s": probes.percentile(out.latencies, 90),
        "setup_s": setup_s,
        "retained_mb": retained_mb,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def _per_layer(out, spark, tracer, cores: int) -> tuple[dict, dict]:
    """(printed per-layer metrics, Spark figures by span name for the side file)."""
    jobs, stages = probes.spark_jobs_and_stages(spark)
    timed = [s for s in tracer.spans if s.end and s.start >= out.timed_start]
    by_name = {
        name: probes.spark_figures([s for s in timed if s.name == name], jobs, stages, cores)
        for name in sorted({s.name for s in timed})
    }
    fig = dict(by_name[out.op_span])
    fig["tracing_self_share"] = tracer.self_seconds / (fig["wall_ms_per_op"] * fig["ops"] / 1000)
    printed = {k: {"value": fig[key], "unit": u} for k, (key, u) in PER_LAYER.items()}
    return printed, by_name


def _layer_detail(by_name: dict) -> dict:
    """The per-layer figures named by span, for the side file."""
    d = {}
    load = by_name.get("etl.load_star_batch")
    if load:
        d["etl.load_star_batch.jobs_per_batch"] = load["jobs_per_op"]
        d["etl.load_star_batch.stages_per_batch"] = load["stages_per_op"]
        d["etl.load_star_batch.tasks_per_batch"] = load["tasks_per_op"]
    sql = by_name.get("plans.analysis.sql")
    if sql:
        d["plans.analysis.bytes_read"] = sql["input_bytes_per_op"]
    for name, fig in by_name.items():
        if name.startswith("operators.fold."):
            d[f"{name}.jobs"] = fig["jobs_per_op"]
            d[f"{name}.stages"] = fig["stages_per_op"]
            d[f"{name}.shuffle_write_bytes"] = fig["shuffle_write_bytes_per_op"]
            d[f"{name}.driver_gap_share"] = fig["driver_gap_share"]
        for k in ("executor_run_ms_per_op", "executor_cpu_ms_per_op", "gc_ms_per_op",
                  "shuffle_write_bytes_per_op", "spill_bytes_per_op", "core_busy_share",
                  "driver_gap_share"):
            d[f"spark.{k.replace('_per_op', '')}[{name}]"] = fig[k]
    return d


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — make sure it is gone
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, REPO)
    cpu_before = probes.cpu_times()
    trace = bool(args.trace)
    tag = f"{args.workload}-s{args.seed}{'-trace' if trace else ''}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    cores = _pin_environment(work, trace)
    spark = None
    try:
        from near_real_time_data_warehouse_spark.session import get_spark

        import workloads

        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t_start
        jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        listener = probes.make_progress_listener(spark)
        tracer = probes.Tracer(trace)
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, cores, tracer, listener)
        undo = workloads.wrap_load_star_batch(ctx) if trace else None
        try:
            out = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if undo is not None:
                undo()
        setup_s = out.setup_end - t_start
        peak_rss = probes.peak_rss_mb(jvm_pid)
        memory = probes.retained_mb(spark)
        retained = sum(memory.values())
        record = {
            "workload": args.workload,
            "env": {**probes.environment(spark, args.seed, cores, trace),
                    "steal_share": probes.steal_share(cpu_before, probes.cpu_times())},
            "problems": out.problems,
            "peak_rss_mb": peak_rss,
            "retained_mb_parts": memory,
            "setup_phases_s": {"session": session_s, **out.phases},
            "detail": out.detail,
        }
        if trace:
            metrics, by_name = _per_layer(out, spark, tracer, cores)
            record["detail"].update(_layer_detail(by_name))
            record["spark_by_span"] = by_name
            record["spans"] = [vars(s) for s in tracer.spans]
            record["traced_end_to_end"] = _end_to_end(out, setup_s, retained)
            untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["metrics"]
                record["tracing_overhead"] = {
                    k: record["traced_end_to_end"][k]["value"] / base[k]["value"] - 1
                    for k in ("latency_p50_s", "latency_p90_s")
                }
        else:
            metrics = _end_to_end(out, setup_s, retained)
        record["metrics"] = metrics
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in out.problems:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"env": record["env"], "overhead": record.get("tracing_overhead"),
                      "detail": {k: v for k, v in record["detail"].items()
                                 if not isinstance(v, dict) or "p50" in v}}))
    print(json.dumps({
        "correct": not out.problems and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
