"""Query workloads: one pass builds and runs every query of a mix once.

Each query is built fresh (``QUERIES[name](spark, sf_dir)``) and written to
the noop sink; the pass time is the sum of those build + action regions.
After the action, outside the timed region, a traced run records the
cached storage the query left and its warm re-run time, the first result
of each query is kept for verification, and the cache is cleared.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import time

# The driver-side build (EDF walks: eager collects, deep withColumn
# chains) dominates these passes. One query: with the operation cycle's
# two ticks, a longer pass does not fit the time a benchmark run is given.
COLD_BUILD = ("mann_whitney_drift",)


def load_checker(repo: str, sf_dir: str):
    """tools/check_correctness.py, imported (not copied) so its
    ``normalize`` and ``duck_connect`` are the oracle harness's own;
    CHECK_SF_DIR points its DuckDB views at the benchmark's tables."""
    os.environ["CHECK_SF_DIR"] = sf_dir
    path = os.path.join(repo, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_pb_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_digest(checker, pdf) -> str:
    """Order-insensitive value hash of a result, as the oracle gate sees it."""
    norm = checker.normalize(pdf)
    h = hashlib.sha256("|".join(norm.columns).encode())
    for row in norm.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class QueryMix:
    """cold_build: a closed loop over one query mix."""

    min_passes = 8  # the JVM warms over the first three passes; eight put the median past them

    def __init__(self, repo: str, sf_dir: str, seed: int, mix=COLD_BUILD):
        self.repo = repo
        self.sf_dir = sf_dir
        self.mix = list(mix)
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.results: dict = {}  # query -> first pandas result
        self.rows_out: dict[str, int] = {}
        self.detail: dict[str, list] = {q: [] for q in self.mix}
        self.queries = None

    def setup(self, spark) -> None:
        from dawis_spark import queries
        from dawis_spark.catalog import register_testdata

        self.spark = spark
        self.queries = queries.QUERIES
        register_testdata(spark, self.sf_dir)

    def run_pass(self, index: int, tracer) -> None:
        spark = self.spark
        order = list(self.mix)
        self.rng.shuffle(order)
        for name in order:
            self.attempted += 1
            rec = {"pass": index}
            try:
                t0 = time.perf_counter()
                with tracer.step(f"{name}.build", "queries.build_s", exec_layer=False):
                    df = self.queries[name](spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.step(f"{name}.action", "exec.action_s"):
                    df.write.mode("overwrite").format("noop").save()
                rec.update(build_s=t1 - t0, action_s=time.perf_counter() - t1)
                if tracer.enabled:
                    with tracer.untimed():
                        mb, n = tracer.cached()
                        tracer.add("cache.left_mb", mb)
                        tracer.add("cache.left_relations", n)
                        t2 = time.perf_counter()
                        df.write.mode("overwrite").format("noop").save()
                        rerun = time.perf_counter() - t2
                        tracer.add("exec.rerun_s", rerun)
                        rec.update(cache_left_mb=mb, rerun_s=rerun)
                if name not in self.results:
                    with tracer.untimed():
                        self.results[name] = df.toPandas()
            except Exception as exc:  # a raised query counts as failed
                self.failed += 1
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                spark.catalog.clearCache()
            self.detail[name].append(rec)

    def verify(self) -> dict:
        """Hash each query's first result against its DuckDB oracle."""
        checker = load_checker(self.repo, self.sf_dir)
        from dawis_spark.queries import ordered_oracles

        oracles = ordered_oracles()
        con = checker.duck_connect()
        report = {}
        for name, pdf in self.results.items():
            odf = con.execute(oracles[name]).fetchdf()
            problem = compare(checker, pdf, odf)
            self.rows_out[name] = len(pdf)
            if problem:
                self.failed += 1
            report[name] = {
                "rows": len(pdf),
                "oracle_rows": len(odf),
                "digest": result_digest(checker, pdf),
                "mismatch": problem,
            }
        con.close()
        return report


def compare(checker, sdf, odf) -> str | None:
    """None when the result matches the oracle, else what differs."""
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return f"rows {len(sdf)} vs {len(odf)}"
    splits = checker.dtype_splits(sdf, odf)
    if splits:
        return f"dtype split {splits}"
    if result_digest(checker, sdf) != result_digest(checker, odf):
        return "values differ"
    return None
