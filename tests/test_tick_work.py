"""The operation tick does each piece of work once: one HTML parse per
document, one read of the unprocessed slice with every persist released,
one stateful run per alert micro-batch, and an empty alert queue that
leaves the shared schema alone."""

import datetime as dt
import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dawis_spark.catalog import Warehouse
from dawis_spark.config import load_configuration
from dawis_spark.modules import get_module
from dawis_spark.runner import run_operation
from dawis_spark.schemas import ALERT_SCHEMA, HTML_DOC_SCHEMA
from dawis_spark.streaming.alerts import AlertQueue

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _example_config():
    with open(os.path.join(REPO, "config", "example.yaml")) as fh:
        return load_configuration(fh.read())


def _doc(path, body, day=1):
    return {
        "urlset": "owndomains",
        "url": {
            "protocol": "https",
            "domain": "www.owndomain.de",
            "path": path,
            "query": "",
        },
        "status_code": 200,
        "num_redirects": 0,
        "redirects": [],
        "ttfb": 1.0,
        "body": body,
        "rendered": False,
        "date": dt.datetime(2026, 5, day),
        "headers": {"content-encoding": "gzip"},
        "configuration_hash": "h",
    }


def _docs(spark):
    page = (
        "<html><head><title>{t}</title><meta name='description' content='d'>"
        "<link rel='canonical' href='https://www.owndomain.de{p}'></head>"
        "<body><h1>h</h1></body></html>"
    )
    rows = [
        _doc(f"/p{i}.html", page.format(t=f"T{i % 2}", p=f"/p{i}.html"))
        for i in range(4)
    ]
    rows.append(_doc("/p0.html", page.format(t="new", p="/p0.html"), day=2))
    return spark.createDataFrame(rows, HTML_DOC_SCHEMA)


def _walk(plan, seen_cached):
    """Every node of an executed plan, through AQE wrappers, query stages,
    reused exchanges and cached relations; a cached relation's inner plan
    is walked once, however many scans read it."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "ReusedExchangeExec":
            stack.append(node.child())
        elif name == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            if cached.toString() not in seen_cached:
                seen_cached.add(cached.toString())
                stack.append(cached)
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))


def test_example_config_parses_each_document_once(spark):
    """metatags (every check leg) and htmlheadings of config/example.yaml
    each execute exactly one ArrowEvalPython, and it evaluates
    html_facts: one parse per document. The staged slice is persisted,
    as the runner does."""
    settings = {
        op: _example_config().operations[op].settings["owndomains"]
        for op in ("metatags", "htmlheadings")
    }
    docs = _docs(spark).persist()
    try:
        for op, cfg in settings.items():
            out = get_module(op)(docs, cfg)
            assert out.count() > 0
            nodes = list(_walk(out._jdf.queryExecution().executedPlan(), set()))
            python = [
                n.toString()
                for n in nodes
                if n.getClass().getSimpleName() == "ArrowEvalPythonExec"
            ]
            assert len(python) == 1, (op, python)
            assert "html_facts" in python[0]
    finally:
        docs.unpersist()


def test_run_operation_releases_its_persists_and_skips_an_empty_slice(
    spark, tmp_path
):
    """run_operation leaves the session's persisted RDDs as it found them,
    on a run with work and on one with no unprocessed rows; the empty run
    writes no checks file."""
    wh = Warehouse(spark, str(tmp_path))
    wh.write(_docs(spark), "staging_html")
    cfg = _example_config()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()

    assert run_operation(spark, wh, cfg, "metatags") == 25
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert wh.read("checks").count() == 25

    assert run_operation(spark, wh, cfg, "metatags", checks_table="again") == 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert not wh.exists("again")


def test_fetch_from_an_empty_queue_leaves_alert_schema_alone(spark, tmp_path):
    queue = AlertQueue(spark, str(tmp_path / "q"))
    fields = list(ALERT_SCHEMA.fields)
    for _ in range(2):
        fetched = queue.fetch(["g"])
        assert fetched.columns == ["date", "group", "message", "data", "seq"]
        assert fetched.count() == 0
    assert list(ALERT_SCHEMA.fields) == fields


_SERIES = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)


def test_alert_sink_folds_each_key_once_per_micro_batch(spark, tmp_path):
    """The sink's empty check and append share one run of the stateful
    fold: the breach function, called once per key per fold, logs one
    line per key for a batch that alerts. The queue rows are the alert
    rows projected as before."""
    from dawis_spark.streaming.detector import alerts_to_queue, latched_alerts
    from dawis_spark.streaming.stream import staging_stream

    calls = str(tmp_path / "calls.log")

    def first_breach(kept):
        with open(calls, "a") as fh:
            fh.write("call\n")
        return next(((b, v) for b, v in kept if v > 100), None)

    staging = str(tmp_path / "staging")
    rows = [
        (k, b, 500 if (k, b) == ("hot", 2) else 10)
        for k in ("a", "b", "hot")
        for b in range(4)
    ]
    spark.createDataFrame(rows, _SERIES).write.parquet(staging)
    queue = AlertQueue(spark, str(tmp_path / "q"))
    alerts = latched_alerts(
        staging_stream(spark, staging, _SERIES),
        "series", "bucket", ["v"], ["value"], first_breach, max_history=10,
    )
    message = [F.col("series"), " crossed ", F.col("value")]
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    start_ms = int(dt.datetime.now(dt.timezone.utc).timestamp() * 1000)
    (
        alerts_to_queue(alerts, queue, "g", message)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    end_ms = int(dt.datetime.now(dt.timezone.utc).timestamp() * 1000)

    with open(calls) as fh:
        assert len(fh.readlines()) == 3  # one fold per key: a, b, hot
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    got = (
        queue.fetch(["g"])
        .select(F.unix_millis("date").alias("ms"), "group", "message", "data")
        .collect()
    )
    assert [(r["group"], r["message"], json.loads(r["data"])) for r in got] == [
        ("g", "hot crossed 500", {"series": "hot", "bucket": 2, "value": 500})
    ]
    assert start_ms <= got[0]["ms"] <= end_ms


def test_probe_rows_fan_out_only_the_probe_check(spark):
    """Two probes of one href give that document two canonical_href_200
    rows and every other check once, as separate check relations did."""
    docs = _docs(spark).filter("date < '2026-05-02'")
    probes = spark.createDataFrame(
        [
            ("https://www.owndomain.de/p1.html", 200),
            ("https://www.owndomain.de/p1.html", 503),
        ],
        "href string, status_code int",
    )
    cfg = {
        "title": {"has_title": True},
        "canonical": {"has_canonical": True, "canonical_href_200": True},
    }
    rows = get_module("metatags")(docs, cfg, probes=probes).collect()
    by_check = {}
    for r in rows:
        by_check.setdefault((r["check"], r["url"]["path"]), []).append(
            (r["valid"], r["error"])
        )
    assert sorted(by_check[("metatags-canonical_href_200", "/p1.html")]) == [
        (False, "href in canonical not valid"),
        (True, ""),
    ]
    # an unprobed href emits its one row
    [(_, error)] = by_check[("metatags-canonical_href_200", "/p2.html")]
    assert error == "href in canonical not valid"
    assert len(by_check[("metatags-has_title", "/p1.html")]) == 1
    assert len(rows) == 4 * 3 + 1


def test_run_operation_applies_each_urlsets_settings(spark, tmp_path):
    """One append covers every configured urlset, each with its own
    settings."""
    wh = Warehouse(spark, str(tmp_path))
    docs = _docs(spark).filter("date < '2026-05-02'")
    other = docs.filter("url.path = '/p0.html'").withColumn("urlset", F.lit("other"))
    wh.write(docs.unionByName(other), "staging_html")
    cfg = load_configuration(
        """
urlsets:
  owndomains: {urls: ["https://www.owndomain.de/"]}
  other: {urls: ["https://www.owndomain.de/"]}
operations:
  htmlheadings:
    settings:
      owndomains: {count_headline_h1: {assert: 1}}
      other: {count_headline_h1: {assert: 2}}
"""
    )
    assert run_operation(spark, wh, cfg, "htmlheadings") == 5
    valid = {
        (r["urlset"], r["url"]["path"]): r["valid"]
        for r in wh.read("checks").collect()
    }
    assert valid == {
        **{("owndomains", f"/p{i}.html"): True for i in range(4)},
        ("other", "/p0.html"): False,
    }
