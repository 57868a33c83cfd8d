"""ops_ticks: the dawis operation cycle, one tick per pass.

A tick (all of it timed):
  1. append a seeded batch of staged HTML and robots.txt documents with
     ``Warehouse.write``;
  2. ``run_operation`` for every operation in config/example.yaml, with
     the incremental processed-log filter;
  3. roll the tick's failing checks into per-(urlset, check) series, stage
     them with per-urlset ttfb values and seeded A/B arm rollups, and drain
     the seven detectors with ``availableNow`` into one ``AlertQueue``;
  4. fetch and commit the queue through a ``Dispatcher`` with a recording
     sender.

A seeded third of the URLs starts failing at ``FAIL_TICK`` (no
description, no h1, HTTP 503, slow ttfb), and a seeded subset of the A/B
series gets a lift or a skewed split from the same tick, so alerts fire.
Nothing is ever uncached by hand and history grows every tick.
"""

from __future__ import annotations

import json
import os
import random
import zlib
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

# Staged HTML documents per tick, one per URL. A traced tick on a 4-core
# box took 30.1 s at 60 documents, 30.4 s at 500 and 33.2 s at 2,000: the
# per-job overhead of the operations and drains dominates. 500 keeps the
# HTML UDFs on thousands of rows a tick while the runs of this workload
# leave room in the benchmark's time for the other one.
N_HTML = 500
N_ROBOTS = 50  # staged robots.txt documents per tick, one per site
SLOTS = 8  # series buckets per tick: a URL's crawl slot within the tick
FAIL_TICK = 1
N_AB = 6  # A/B series per detector (msprt, srm)
BASE = datetime(2026, 5, 1)
DOMAIN = "www.owndomain.de"

# check rows each operation appends per tick for the generated documents:
# metatags = has_title, is_title_empty, has_title_duplicates,
# has_description, canonical_is_self_referencing (one title per document,
# one document per URL per tick, so no problem_multi / has_title_changed)
EXPECTED_ROWS = {
    "metatags": 5 * N_HTML,
    "responseheader": 2 * N_HTML,
    "htmlheadings": N_HTML,
    "robotstxt": 2 * N_ROBOTS,
}

# psi over per-urlset ttfb (ms): healthy fetches land in [0, 500)
PSI_LO, PSI_HI, PSI_REF = 0.0, 1000.0, [50, 50, 1, 1]
PSI_THRESHOLD, PSI_MIN_ROWS = 0.25, 50


def _detectors():
    """name -> (stage, key column, build(stream), to_queue(alerts, q), group)."""
    from dawis_spark.streaming.cusum import cusum_alerts_to_queue, stream_cusum_alerts
    from dawis_spark.streaming.drift import psi_alerts_to_queue, stream_psi_alerts
    from dawis_spark.streaming.forecastmon import (
        forecast_alerts_to_queue,
        stream_forecast_residual_alerts,
    )
    from dawis_spark.streaming.msprt import msprt_alerts_to_queue, stream_msprt_alerts
    from dawis_spark.streaming.pagehinkley import (
        ph_alerts_to_queue,
        stream_page_hinkley_alerts,
    )
    from dawis_spark.streaming.spc import spc_alerts_to_queue, stream_spc_alerts
    from dawis_spark.streaming.srmmon import srm_alerts_to_queue, stream_srm_alerts

    def series(fn):
        return lambda s: fn(s, "series", "bucket", "v")

    return {
        "psi": (
            "ttfb",
            "metric",
            lambda s: stream_psi_alerts(
                s, "metric", "v", PSI_LO, PSI_HI, PSI_REF, PSI_THRESHOLD, PSI_MIN_ROWS
            ),
            lambda a, q: psi_alerts_to_queue(a, q, group="drift"),
            "drift",
        ),
        "cusum": (
            "checks",
            "series",
            series(stream_cusum_alerts),
            lambda a, q: cusum_alerts_to_queue(a, q, group="shift"),
            "shift",
        ),
        "page_hinkley": (
            "checks",
            "series",
            series(stream_page_hinkley_alerts),
            lambda a, q: ph_alerts_to_queue(a, q, group="mean-drift"),
            "mean-drift",
        ),
        "spc": (
            "checks",
            "series",
            series(stream_spc_alerts),
            lambda a, q: spc_alerts_to_queue(a, q, group="spc"),
            "spc",
        ),
        "forecast_residual": (
            "checks",
            "series",
            series(stream_forecast_residual_alerts),
            lambda a, q: forecast_alerts_to_queue(a, q, group="forecast"),
            "forecast",
        ),
        "msprt": (
            "arms",
            "exp",
            lambda s: stream_msprt_alerts(s, "exp", "bucket"),
            lambda a, q: msprt_alerts_to_queue(a, q, group="msprt"),
            "msprt",
        ),
        "srm": (
            "split",
            "series",
            lambda s: stream_srm_alerts(s, "series", "bucket", "n_a", "n_b"),
            lambda a, q: srm_alerts_to_queue(a, q, group="srm"),
            "srm",
        ),
    }


def _stage_schemas():
    from pyspark.sql import types as T

    def longs(*names):
        return [T.StructField(n, T.LongType()) for n in names]

    return {
        "ttfb": T.StructType(
            [T.StructField("metric", T.StringType()), T.StructField("v", T.DoubleType())]
        ),
        "checks": T.StructType(
            [T.StructField("series", T.StringType())] + longs("bucket", "v")
        ),
        "arms": T.StructType(
            [T.StructField("exp", T.StringType())]
            + longs("bucket", "n0", "s0", "ss0", "n1", "s1", "ss1")
        ),
        "split": T.StructType(
            [T.StructField("series", T.StringType())] + longs("bucket", "n_a", "n_b")
        ),
    }


class Generator:
    """Seeded staged documents and A/B rollups for each tick."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.seed = seed
        self.failing_urls = set(rng.sample(range(N_HTML), N_HTML // 3))
        self.failing_sites = set(rng.sample(range(N_ROBOTS), N_ROBOTS // 5))
        self.lifted = set(rng.sample(range(N_AB), 2))
        self.skewed = set(rng.sample(range(N_AB), 2))

    def _rng(self, tick: int, stream: str) -> random.Random:
        return random.Random(f"{self.seed}:{tick}:{stream}")

    def html_docs(self, tick: int) -> list[tuple]:
        rng = self._rng(tick, "html")
        docs = []
        for u in range(N_HTML):
            fail = u in self.failing_urls and tick >= FAIL_TICK
            path = f"/p{u:04d}.html"
            own = f"https://{DOMAIN}{path}"
            title = f"Shop category {u % 40}" if u % 7 == 0 else f"Page {u} title"
            desc = (
                ""
                if fail or rng.random() < 0.05
                else f'<meta name="description" content="About page {u}">'
            )
            canonical = own if rng.random() >= 0.05 else f"https://{DOMAIN}/"
            n_h1 = 0 if fail else (2 if rng.random() < 0.05 else 1)
            gzip = rng.random() >= 0.05
            body = (
                f"<html><head><title>{title}</title>{desc}"
                f'<link rel="canonical" href="{canonical}"></head><body>'
                + "".join(f"<h1>Heading {i}</h1>" for i in range(n_h1))
                + f"<p>Body text of page {u} at tick {tick}.</p></body></html>"
            )
            headers = {"Content-Type": "text/html"}
            if gzip:
                headers["Content-Encoding"] = "GZIP"
            ttfb = rng.uniform(750.0, 1000.0) if fail else rng.uniform(0.0, 500.0)
            docs.append(
                (
                    "owndomains",
                    ("https", DOMAIN, path, None),
                    503 if fail else 200,
                    0,
                    [],
                    round(ttfb, 3),
                    body,
                    False,
                    BASE + timedelta(hours=tick, seconds=u),
                    headers,
                    "perfbench",
                )
            )
        return docs

    def robots_docs(self, tick: int) -> list[tuple]:
        rng = self._rng(tick, "robots")
        docs = []
        for k in range(N_ROBOTS):
            fail = k in self.failing_sites and tick >= FAIL_TICK
            domain = f"www.site{k:02d}.de"
            status = 404 if rng.random() < 0.05 else 200
            sitemap = "" if fail else f"Sitemap: https://{domain}/sitemap.xml\n"
            docs.append(
                (
                    "robotstxtcheck",
                    ("https", domain, "/robots.txt", None),
                    status,
                    f"User-agent: *\nDisallow: /private/\n{sitemap}",
                    {"Content-Type": "text/plain"},
                    BASE + timedelta(hours=tick, seconds=k),
                )
            )
        return docs

    def arms(self, tick: int) -> list[tuple]:
        rng = self._rng(tick, "arms")
        rows = []
        for e in range(N_AB):
            lift = 40 if e in self.lifted and tick >= FAIL_TICK else 0
            for s in range(SLOTS):
                v0 = [100 + rng.randint(-20, 20) for _ in range(20)]
                v1 = [100 + lift + rng.randint(-20, 20) for _ in range(20)]
                rows.append(
                    (
                        f"exp{e}",
                        tick * SLOTS + s,
                        len(v0),
                        sum(v0),
                        sum(x * x for x in v0),
                        len(v1),
                        sum(v1),
                        sum(x * x for x in v1),
                    )
                )
        return rows

    def split(self, tick: int) -> list[tuple]:
        rng = self._rng(tick, "split")
        rows = []
        for e in range(N_AB):
            p = 0.7 if e in self.skewed and tick >= FAIL_TICK else 0.5
            for s in range(SLOTS):
                n_a = sum(rng.random() < p for _ in range(100))
                rows.append((f"split{e}", tick * SLOTS + s, n_a, 100 - n_a))
        return rows


class OpsTicks:
    """The scheduled-operation workload: history grows with every tick."""

    min_passes = 2  # the planted failures start at tick 1

    def __init__(self, repo: str, work: str, seed: int):
        self.repo = repo
        self.work = work
        self.gen = Generator(seed)
        self.attempted = 0
        self.failed = 0
        self.check_rows: list[int] = []
        self.delivered: dict[str, list] = {}  # stage -> rows, by tick
        self.sent: list[dict] = []  # every alert the dispatcher sent
        self.detail: list[dict] = []
        self._last_bytes = 0  # warehouse parquet bytes after the last tick
        self._checks_files: set[str] = set()  # checks files rolled up so far

    def setup(self, spark) -> None:
        from dawis_spark.catalog import Warehouse
        from dawis_spark.config import load_configuration
        from dawis_spark.streaming.alerts import AlertQueue

        self.spark = spark
        self.warehouse = Warehouse(spark, os.path.join(self.work, "warehouse"))
        os.makedirs(self.warehouse.root, exist_ok=True)
        with open(os.path.join(self.repo, "config", "example.yaml")) as fh:
            self.config = load_configuration(fh.read())
        self.queue = AlertQueue(spark, os.path.join(self.work, "queue"))
        self.detectors = _detectors()
        self.schemas = _stage_schemas()
        self.delivered = {stage: [] for stage in self.schemas}

    def _batch(self, rows: list[tuple], schema):
        """One tick's batch as one file, the way a fetch batch lands."""
        return self.spark.createDataFrame(rows, schema).coalesce(1)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.work, "stage", stage)

    def _failing_series(self, tick: int) -> list[tuple]:
        """Failing checks of the files this tick appended, per (urlset,
        check) series and crawl slot: one bucket per slot."""
        files = {
            os.path.join(d, n)
            for d, _dirs, names in os.walk(self.warehouse.path("checks"))
            for n in names
            if n.endswith(".parquet")
        }
        new, self._checks_files = files - self._checks_files, files
        counts: dict[tuple, int] = {}
        for path in sorted(new):
            cols = pq.read_table(path, columns=["urlset", "check", "valid", "url"])
            for row in cols.to_pylist():
                url = row["url"]
                slot = zlib.crc32(f"{url['domain']}{url['path']}".encode()) % SLOTS
                key = (row["urlset"], row["check"], slot)
                counts[key] = counts.get(key, 0) + (not row["valid"])
        keys = sorted({(u, c) for u, c, _ in counts})
        return [
            (f"{u}|{c}", tick * SLOTS + s, counts.get((u, c, s), 0))
            for u, c in keys
            for s in range(SLOTS)
        ]

    def _stage(self, stage: str, tick: int, rows: list[tuple]) -> None:
        """One tick's detector input as one parquet file in the staging
        directory the detector's file stream reads."""
        schema = to_arrow_schema(self.schemas[stage])
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
            schema=schema,
        )
        path = self._stage_path(stage)
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, f"tick-{tick:05d}.parquet"))

    def run_pass(self, tick: int, tracer) -> None:
        from dawis_spark.runner import run_operation
        from dawis_spark.schemas import HTML_DOC_SCHEMA, ROBOTSTXT_DOC_SCHEMA

        spark = self.spark
        rec: dict = {"tick": tick}
        html = self.gen.html_docs(tick)
        robots = self.gen.robots_docs(tick)

        with tracer.step("ingest", "catalog.write_s"):
            self.warehouse.write(self._batch(html, HTML_DOC_SCHEMA), "staging_html")
            self.warehouse.write(
                self._batch(robots, ROBOTSTXT_DOC_SCHEMA), "staging_robotstxt"
            )

        rows = 0
        for op in self.config.operations:
            self.attempted += 1
            try:
                with tracer.step(f"op.{op}", f"runner.{op}_s"):
                    n = run_operation(spark, self.warehouse, self.config, op)
            except Exception as exc:
                self.failed += 1
                rec[f"{op}_error"] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            rows += n
            rec[f"{op}_rows"] = n
            if n != EXPECTED_ROWS[op]:
                self.failed += 1
                rec[f"{op}_mismatch"] = f"{n} check rows, expected {EXPECTED_ROWS[op]}"
        self.check_rows.append(rows)
        tracer.add("runner.check_rows", rows)

        # The rollup and the staged detector traffic are the benchmark's own
        # work: done with pyarrow, so the tick's Spark jobs are the program's.
        with tracer.step("stage", "streaming.stage_s"):
            staged = {
                "checks": self._failing_series(tick),
                "ttfb": [(d[0], d[5]) for d in html],
                "arms": self.gen.arms(tick),
                "split": self.gen.split(tick),
            }
            for stage, stage_rows in staged.items():
                self._stage(stage, tick, stage_rows)
                self.delivered[stage].append(stage_rows)

        state_rows = 0
        for name, (stage, _key, build, to_queue, _group) in self.detectors.items():
            self.attempted += 1
            try:
                with tracer.step(f"drain.{name}", f"streaming.{name}_s"):
                    q = self._drain(name, stage, build, to_queue)
                tracer.count_group(str(q.runId))
                if tracer.enabled:
                    state_rows += _state_rows(q)
            except Exception as exc:
                self.failed += 1
                rec[f"{name}_error"] = f"{type(exc).__name__}: {exc}"[:300]
        tracer.add("streaming.state_rows", state_rows)

        from dawis_spark.modules.alerting import Dispatcher

        sent: list[dict] = []
        groups = {g: ["seo-team@example.invalid"] for *_, g in self.detectors.values()}
        with tracer.step("dispatch", "modules.dispatch_s"):
            delivered = Dispatcher(
                self.queue, send=lambda to, alerts: sent.extend(alerts)
            ).dispatch(groups)
        self.sent += sent
        rec["alerts"] = delivered
        tracer.add("streaming.alerts", len(sent))
        if tracer.enabled:
            mb, n = tracer.cached()
            tracer.add("cache.left_mb", mb)
            tracer.add("cache.left_relations", n)
            files, size = _tree_size(self.warehouse.root)
            tracer.add("catalog.files", files)
            tracer.add("catalog.bytes_written_mb", (size - self._last_bytes) / 2**20)
            self._last_bytes = size
        self.detail.append(rec)

    def _drain(self, name, stage, build, to_queue):
        from dawis_spark.streaming.stream import staging_stream

        stream = staging_stream(self.spark, self._stage_path(stage), self.schemas[stage])
        q = (
            to_queue(build(stream), self.queue)
            .option("checkpointLocation", os.path.join(self.work, "ckpt", name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def verify(self) -> dict:
        """Alerted keys per detector against its batch twin: the detector's
        closed form replayed over the delivered rows tick by tick."""
        report = {"check_rows": self.check_rows, "detectors": {}}
        by_group: dict[str, set] = {}
        for alert in self.sent:
            by_group.setdefault(alert["group"], set()).add(alert["data"])
        for name, (stage, key, *_rest, group) in self.detectors.items():
            got = {json.loads(d)[key] for d in by_group.get(group, ())}
            want = twin_alerted(name, self.delivered[stage])
            # the planted failures must alert: a twin left empty after
            # FAIL_TICK means the traffic no longer exercises the detector
            planted = len(self.delivered[stage]) > FAIL_TICK
            ok = got == want and (bool(want) or not planted)
            if not ok:
                self.failed += 1
            report["detectors"][name] = {
                "alerted": sorted(got),
                "twin": sorted(want),
                "match": ok,
            }
        report["alerts"] = len(self.sent)
        return report


def twin_alerted(name: str, ticks: list[list[tuple]]) -> set:
    """Keys the detector must have alerted after the delivered ticks: its
    ``*_closed_form`` over each tick's retained history, latched."""
    from dawis_spark.operators.drift import bin_index, psi_from_counts
    from dawis_spark.operators.forecast import first_holt_residual_breach
    from dawis_spark.streaming.cusum import cusum_closed_form
    from dawis_spark.streaming.msprt import msprt_closed_form
    from dawis_spark.streaming.pagehinkley import ph_closed_form
    from dawis_spark.streaming.spc import spc_closed_form
    from dawis_spark.streaming.srmmon import srm_closed_form

    if name == "psi":
        counts: dict[str, list[int]] = {}
        alerted = set()
        for rows in ticks:
            for k, v in rows:
                c = counts.setdefault(k, [0] * len(PSI_REF))
                c[bin_index(float(v), PSI_LO, PSI_HI, len(PSI_REF))] += 1
            for k, c in counts.items():
                if sum(c) >= PSI_MIN_ROWS and psi_from_counts(PSI_REF, c) > PSI_THRESHOLD:
                    alerted.add(k)
        return alerted

    breaches = {
        "cusum": (90, lambda h: any(fl for *_, fl in cusum_closed_form(h))),
        "page_hinkley": (90, lambda h: any(fl for *_, fl in ph_closed_form(h))),
        "spc": (90, lambda h: any(m > 0 for *_, m in spc_closed_form(h))),
        "forecast_residual": (
            365,
            lambda h: first_holt_residual_breach(h) is not None,
        ),
        "msprt": (
            365,
            lambda h: any(
                p <= 0.05 for *_, p in msprt_closed_form([(b, *v) for b, v in h])
            ),
        ),
        "srm": (365, lambda h: any(row[4] for row in srm_closed_form(h))),
    }
    max_history, breached = breaches[name]
    hist: dict[str, dict[int, object]] = {}
    alerted = set()
    for rows in ticks:
        for key, bucket, *vals in rows:
            value = vals[0] if len(vals) == 1 else tuple(vals)
            hist.setdefault(key, {})[bucket] = value
        for key, h in hist.items():
            if key not in alerted and breached(sorted(h.items())[-max_history:]):
                alerted.add(key)
    return alerted


def _state_rows(q) -> int:
    progress = q.lastProgress
    if progress is None:
        return 0
    if not isinstance(progress, dict):
        progress = json.loads(progress.json)
    return sum(op.get("numRowsTotal", 0) for op in progress.get("stateOperators", []))


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
