"""Layered end-to-end benchmark of dawis_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 10 --trace 0

Workloads: cold_build (a query mix, see query_mix.py) and ops_ticks (the
scheduled operation cycle, see ops.py). Each run is one
driver process with a closed loop of one client on ``local[nproc]``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (all layer probes off); with ``--trace 1`` they are the
per-layer ones, read by probes.py. Per-pass and per-query detail goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.001")
HARD_STOP_S = 120.0  # stop starting passes well inside the 180 s budget
WORKLOADS = ("cold_build", "ops_ticks")

END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.rerun_s": "s",
    "python.rows": "count",
    "python.bytes_in": "bytes",
    "python.bytes_out": "bytes",
    "cache.left_mb": "MB",
    "cache.left_relations": "count",
    "catalog.write_s": "s",
    "catalog.bytes_written_mb": "MB",
    "catalog.files": "count",
    "runner.metatags_s": "s",
    "runner.responseheader_s": "s",
    "runner.htmlheadings_s": "s",
    "runner.robotstxt_s": "s",
    "runner.check_rows": "count",
    "streaming.psi_s": "s",
    "streaming.cusum_s": "s",
    "streaming.page_hinkley_s": "s",
    "streaming.spc_s": "s",
    "streaming.forecast_residual_s": "s",
    "streaming.msprt_s": "s",
    "streaming.srm_s": "s",
    "streaming.stage_s": "s",
    "streaming.alerts": "count",
    "streaming.state_rows": "count",
    "modules.dispatch_s": "s",
    "calib.sql_probe_s": "s",
    "calib.udf_probe_s": "s",
    "trace.pass_s": "s",
    "run.passes": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and give the
    Python workers the repository on their import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, REPO)


def start_spark(work: str):
    from dawis_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited:
    it leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def colocate_py4j(spark) -> None:
    """Put this thread and the JVM thread that serves its py4j calls on
    one CPU.

    A py4j call is a socket round trip between the two threads. Left to
    the scheduler they sit on different vCPUs, and each call waits for a
    sleeping vCPU to wake: on a 4-vCPU VM 20,000 calls took 1.0-2.9 s
    this way and 0.57 s on one CPU. The executor threads keep every CPU.
    """
    gateway = spark.sparkContext._gateway
    name = gateway.jvm.java.lang.Thread.currentThread().getName()[:15]
    cpu = {max(os.sched_getaffinity(0))}
    tasks = f"/proc/{gateway.proc.pid}/task"
    for tid in os.listdir(tasks):
        try:
            with open(f"{tasks}/{tid}/comm") as fh:
                if fh.read().strip() == name:
                    os.sched_setaffinity(int(tid), cpu)
        except OSError:  # the thread has ended
            continue
    os.sched_setaffinity(0, cpu)


def make_workload(name: str, seed: int, work: str):
    if name == "ops_ticks":
        from perfbench.ops import OpsTicks

        return OpsTicks(REPO, work, seed)
    from perfbench.query_mix import QueryMix

    return QueryMix(REPO, SF_DIR, seed)


def median_layers(passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics: summed within a pass, median over passes."""
    keys = {k for p in passes for k in p}
    return {k: statistics.median(p.get(k, 0.0) for p in passes) for k in keys}


def run(args) -> dict:
    if not os.path.isdir(os.path.join(REPO, "dawis_spark")):
        raise SystemExit(f"perfbench: no dawis_spark package next to {HERE}")
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from perfbench.probes import NullTracer, Tracer, heap_live_mb

    spark = None
    try:
        wl = make_workload(args.workload, args.seed, work)
        t0 = time.perf_counter()
        spark = start_spark(work)
        spark.range(1000).count()  # first trivial job
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        setup_s = t2 - T_START

        calib = {}
        tracer = NullTracer()
        if args.trace:
            import bench

            calib = bench._calibration(spark)
            tracer = Tracer(spark)

        passes: list[dict] = []
        cpus = os.sched_getaffinity(0)
        t_meas = time.perf_counter()
        while True:
            colocate_py4j(spark)
            tracer.begin_pass(len(passes))
            wl.run_pass(len(passes), tracer)
            passes.append(tracer.end_pass())
            elapsed = time.perf_counter() - t_meas
            if elapsed >= args.seconds and len(passes) >= wl.min_passes:
                break
            if time.perf_counter() - T_START > HARD_STOP_S:
                break
        tracer.close()
        os.sched_setaffinity(0, cpus)
        pass_times = [p["__timed_s"] for p in passes]
        check = wl.verify()
        heap = heap_live_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    pass_s = statistics.median(pass_times)
    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(median_layers(passes))
        metrics.update(
            {
                "session.start_s": t1 - t0,
                "catalog.register_s": t2 - t1,
                "calib.sql_probe_s": calib["sql_probe"],
                "calib.udf_probe_s": calib["udf_probe"],
                "trace.pass_s": pass_s,
                "run.passes": len(passes),
            }
        )
        shown = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "pass_s": pass_s, "heap_live_mb": heap}
        shown = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(passes),
        "pass_times_s": pass_times,
        "layers_by_pass": passes,
        "fail_ratio": wl.failed / max(wl.attempted, 1),
        "verification": check,
        "steps": wl.detail,
        "metrics": shown,
    }
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": shown,
    }


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
