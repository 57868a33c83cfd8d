"""The benchmark's own tests: the probes read real numbers, verification
catches a wrong output, and exact counts repeat for a seed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import os

from pyspark.sql import functions as F

from perfbench import run
from perfbench.ops import FAIL_TICK, OpsTicks, twin_alerted
from perfbench.probes import NullTracer, Tracer
from perfbench.query_mix import COLD_BUILD, QueryMix

SAMPLE = "ks_price_drift"  # matches its oracle at sf0.001 (q5_region_revenue does not)


def _mix(spark, mix, seed=7):
    wl = QueryMix(run.REPO, run.SF_DIR, seed, mix=mix)
    wl.setup(spark)
    return wl


def _traced_pass(spark, wl, index=0):
    tracer = Tracer(spark)
    try:
        tracer.begin_pass(index)
        wl.run_pass(index, tracer)
        return tracer.end_pass()
    finally:
        tracer.close()


def test_catalyst_phases_come_from_the_executed_write(spark):
    wl = _mix(spark, [SAMPLE])
    layers = _traced_pass(spark, wl)
    assert wl.failed == 0
    assert layers["catalyst.optimization_s"] > 0
    assert layers["catalyst.planning_s"] > 0
    assert layers["exec.jobs"] >= 1 and layers["exec.tasks"] >= 1
    # the DataFrame's own QueryExecution never optimizes or plans: the
    # write runs a separate command QueryExecution
    df = wl.queries[SAMPLE](spark, run.SF_DIR)
    df.write.mode("overwrite").format("noop").save()
    own = df._jdf.queryExecution().tracker().phases()
    assert own.get("optimization").isEmpty() and own.get("planning").isEmpty()


def test_py4j_calls_are_served_on_the_callers_cpu(spark):
    before = os.sched_getaffinity(0)
    try:
        run.colocate_py4j(spark)
        cpu = os.sched_getaffinity(0)
        gateway = spark.sparkContext._gateway
        name = gateway.jvm.java.lang.Thread.currentThread().getName()[:15]
        tasks = f"/proc/{gateway.proc.pid}/task"
        served = []
        for tid in os.listdir(tasks):
            with open(f"{tasks}/{tid}/comm") as fh:
                if fh.read().strip() == name:
                    served.append(int(tid))
        assert len(cpu) == 1 and served
        assert all(os.sched_getaffinity(tid) == cpu for tid in served)
    finally:
        os.sched_setaffinity(0, before)


def _perturb(df):
    """Add 1 to the first numeric column: same shape, wrong values."""
    numeric = next(
        c for c, t in df.dtypes if t in ("int", "bigint", "double") or t.startswith("decimal")
    )
    return df.withColumn(numeric, F.col(numeric) + 1)


def test_wrong_output_is_caught(spark):
    wl = _mix(spark, [SAMPLE])
    good = wl.queries[SAMPLE]
    wl.run_pass(0, NullTracer())
    wl.verify()
    assert (wl.attempted, wl.failed) == (1, 0)

    wl = _mix(spark, [SAMPLE])
    wl.queries = {SAMPLE: lambda s, d: _perturb(good(s, d))}
    wl.run_pass(0, NullTracer())
    assert wl.failed == 0  # nothing raised: only verification can tell
    report = wl.verify()
    assert wl.failed == 1 and report[SAMPLE]["mismatch"] == "values differ"


def _ops_replayed(seed=3):
    """An OpsTicks whose delivered traffic spans two ticks and whose sent
    alerts are exactly the twins', with a level shift in one check series."""
    from perfbench.ops import _detectors

    wl = OpsTicks(run.REPO, "unused", seed=seed)
    wl.detectors = _detectors()
    gen = wl.gen
    shifted = [("owndomains|x", b, 1) for b in range(8)]
    shifted += [("owndomains|x", b, 9) for b in range(8, 16)]
    flat = [("owndomains|y", b, 2) for b in range(16)]
    wl.delivered = {
        "checks": [shifted[:8] + flat[:8], shifted[8:] + flat[8:]],
        "ttfb": [[(d[0], d[5]) for d in gen.html_docs(t)] for t in (0, 1)],
        "arms": [gen.arms(0), gen.arms(1)],
        "split": [gen.split(0), gen.split(1)],
    }
    for name, (stage, key, *_rest, group) in wl.detectors.items():
        for k in sorted(twin_alerted(name, wl.delivered[stage])):
            wl.sent.append({"group": group, "data": json.dumps({key: k})})
    return wl


def test_ops_verification_catches_a_wrong_alert_set():
    wl = _ops_replayed()
    report = wl.verify()
    assert wl.failed == 0
    assert all(d["twin"] for d in report["detectors"].values())
    wl.sent.pop()
    wl.verify()
    assert wl.failed == 1


def test_ops_verification_catches_silent_detectors():
    wl = _ops_replayed()
    flat = [("owndomains|y", b, 2) for b in range(16)]
    wl.delivered["checks"] = [flat[:8], flat[8:]]
    series = {"cusum", "page_hinkley", "spc", "forecast_residual"}
    groups = {g for n, (*_rest, g) in wl.detectors.items() if n in series}
    wl.sent = [a for a in wl.sent if a["group"] not in groups]
    report = wl.verify()
    # stream and twin agree (both silent), but the planted failures must alert
    assert all(not report["detectors"][n]["twin"] for n in series)
    assert wl.failed == len(series)


def test_exact_counts_repeat_for_a_seed(spark, work_root):
    def query_counts():
        wl = _mix(spark, list(COLD_BUILD), seed=5)
        layers = _traced_pass(spark, wl)
        wl.verify()
        assert wl.failed == 0
        return wl.rows_out, layers["queries.eager_jobs"]

    def ops_counts(tag):
        wl = OpsTicks(run.REPO, os.path.join(work_root, tag), seed=5)
        wl.setup(spark)
        ticks = [_traced_pass(spark, wl, t) for t in range(2)]
        wl.verify()
        assert wl.failed == 0
        counts = [(t["streaming.alerts"], t["python.rows"]) for t in ticks]
        return wl.check_rows, counts

    first = query_counts()
    assert first[1] > 0  # the EDF walks launch eager jobs while building
    assert query_counts() == first
    ops = ops_counts("a")
    alerts_at_fail_tick, udf_rows = ops[1][FAIL_TICK]
    assert alerts_at_fail_tick > 0 and udf_rows > 0
    assert ops_counts("b") == ops
