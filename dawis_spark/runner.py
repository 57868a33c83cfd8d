"""Module runner — the reference's scheduled-run lifecycle (SURVEY §3.1)
without Celery/Redis/pickle.

Reference: celery beat -> run_runner -> importlib module lookup ->
CustomClass(configuration, key, connection).run() (dawis.py:26-70,
modules/runner.py:10-25). Here an external scheduler (cron/Airflow) calls
``run_operation``: config lookup -> staging read -> processed-log filter ->
module evaluate -> checks append -> processed-log mark.

An operation evaluates its unprocessed slice once: the slice is persisted
for the run (an empty one ends the run with no write) and read by one
checks append over every urlset and by the processed-log mark; the
append reports its own row count through an ``Observation``. Staging is
read with its known schema, so no job infers one. The persist is
released before the run returns.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from dawis_spark.catalog import Warehouse
from dawis_spark.config import Configuration
from dawis_spark.modules import get_module
from dawis_spark.modules._common import union_checks
from dawis_spark.schemas import HTML_DOC_SCHEMA, ROBOTSTXT_DOC_SCHEMA
from dawis_spark.streaming.processed import ProcessedLog

# staging table per module family (the reference's per-module Mongo
# collections, database/mongodb.py:74-87)
STAGING_TABLES = {
    "responseheader": "staging_html",
    "metatags": "staging_html",
    "htmlheadings": "staging_html",
    "robotstxt": "staging_robotstxt",
    "pagespeed": "staging_pagespeed",
}
# the staging tables whose layout schemas.py declares; others are inferred
STAGING_SCHEMAS = {
    "staging_html": HTML_DOC_SCHEMA,
    "staging_robotstxt": ROBOTSTXT_DOC_SCHEMA,
}
DOC_KEY = ["urlset", "url", "date"]


def run_operation(
    spark: SparkSession,
    warehouse: Warehouse,
    configuration: Configuration,
    module_name: str,
    checks_table: str = "checks",
    incremental: bool = True,
) -> int:
    """Run one operation module over every configured urlset; returns the
    number of check rows appended."""
    module_cfg = configuration.operations[module_name]
    table = STAGING_TABLES[module_name]
    docs = warehouse.read(table, STAGING_SCHEMAS.get(table))
    log = ProcessedLog(spark, warehouse.root, module_name)
    if incremental:
        docs = log.unprocessed(docs, DOC_KEY)
    evaluate = get_module(module_name)
    docs = docs.persist()
    try:
        if docs.isEmpty():
            return 0
        parts = [
            evaluate(docs.filter(docs.urlset == urlset), settings)
            for urlset, settings in module_cfg.settings.items()
        ]
        rows = 0
        if parts:
            appended = Observation()
            checks = union_checks(parts).observe(appended, F.count(F.lit(1)).alias("n"))
            warehouse.write(checks, checks_table)
            rows = appended.get["n"]
        if incremental:
            log.mark(docs, DOC_KEY)
        return rows
    finally:
        docs.unpersist()


def _cron_field(spec: str, value: int, lo: int, hi: int) -> bool:
    """One cron field: '*', 'a', 'a-b', '*/n', 'a-b/n', comma lists."""
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
        if part == "*":
            start, end = lo, hi
        elif "-" in part:
            a, b = part.split("-", 1)
            start, end = int(a), int(b)
        else:
            start, end = int(part), int(part) if step == 1 else hi
        if start <= value <= end and (value - start) % step == 0:
            return True
    return False


def cron_matches(expr: str, ts: datetime) -> bool:
    """5-field cron match (minute hour day-of-month month day-of-week),
    the grammar celery beat's crontab accepts for the reference's
    ``schedule`` keys (dawis.py:26-44). day-of-week: 0 and 7 are Sunday.
    Standard cron OR-semantics between dom and dow apply only when both
    are restricted; the reference's configs restrict at most one, so the
    simple AND of all five fields is exact for its grammar."""
    fields = expr.split()
    if len(fields) != 5:
        raise ValueError(f"cron expression needs 5 fields: {expr!r}")
    minute, hour, dom, month, dow = fields
    # python weekday(): Monday=0; cron: Sunday=0
    cron_dow = (ts.weekday() + 1) % 7
    return (
        _cron_field(minute, ts.minute, 0, 59)
        and _cron_field(hour, ts.hour, 0, 23)
        and _cron_field(dom, ts.day, 1, 31)
        and _cron_field(month, ts.month, 1, 12)
        and (_cron_field(dow, cron_dow, 0, 6) or _cron_field(dow, 7 if cron_dow == 0 else cron_dow, 0, 7))
    )


class RuntimeLimitExceeded(Exception):
    """Raised when an operation overruns its configured runtime_limit."""


def run_with_limit(spark: SparkSession, fn, limit_seconds: float, group: str):
    """Execute ``fn()`` under a Spark job group and cancel every job in the
    group if it overruns — the reference's celery ``soft_time_limit``
    (dawis.py:47-52, config runtime_limit) translated to Spark's native
    cancellation: ``cancelJobGroup`` interrupts running tasks, so a stuck
    scan or shuffle actually stops instead of a Python-side timer leaking
    a runaway cluster job. Raises RuntimeLimitExceeded on overrun.
    """
    import threading

    sc = spark.sparkContext
    sc.setJobGroup(group, f"runtime_limit={limit_seconds}s", interruptOnCancel=True)
    expired = threading.Event()

    def cancel() -> None:
        expired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(limit_seconds, cancel)
    timer.daemon = True
    timer.start()
    try:
        result = fn()
        if expired.is_set():
            raise RuntimeLimitExceeded(group)
        return result
    except RuntimeLimitExceeded:
        raise
    except Exception as exc:
        if expired.is_set():
            raise RuntimeLimitExceeded(group) from exc
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


def run_due_operations(
    spark: SparkSession,
    warehouse: Warehouse,
    configuration: Configuration,
    now: datetime,
    run_one=run_operation,
) -> dict[str, int]:
    """The beat loop (reference dawis.py:26-70): run every operation whose
    cron ``schedule`` matches ``now``. Returns {module: check rows}.
    ``run_one`` is injectable for tests; an external scheduler calls this
    once per minute tick — per-module state (processed-log) makes missed
    or repeated ticks safe."""
    results: dict[str, int] = {}
    for name, op in configuration.operations.items():
        schedule = getattr(op, "schedule", None)
        if not (schedule and cron_matches(schedule, now)):
            continue
        limit = getattr(op, "runtime_limit", None)
        if limit:
            results[name] = run_with_limit(
                spark,
                lambda n=name: run_one(spark, warehouse, configuration, n),
                limit,
                f"operation-{name}",
            )
        else:
            results[name] = run_one(spark, warehouse, configuration, name)
    return results


def run_all_operations(
    spark: SparkSession,
    warehouse: Warehouse,
    configuration: Configuration,
    run_one=run_operation,
) -> dict[str, int]:
    """Module-debugger analog (reference module-debugger.py:7-24): run
    EVERY configured operation once, synchronously, ignoring cron
    schedules and runtime limits — the run-everything-now path used to
    smoke a config against real staging data. Per-module processed-log
    state still applies, so a debugger pass doesn't double-append checks
    for already-processed documents."""
    return {
        name: run_one(spark, warehouse, configuration, name)
        for name in configuration.operations
    }
