"""Benchmark runner — times every inventory query at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (kept under ~1900 bytes: the driver records
only a bounded tail of stdout, so the line itself must fit inside it):
  {"metric": "...", "value": <warm total sec>, "unit": "sec",
   "queries": {name: warm sec, ...}, "sf": <scale factor>,
   "cold_total": <cold total sec>, "n_queries": N}

Per-query warm numbers are the MEDIAN of the warm passes (2, plus an
adaptive 3rd when the first two disagree — VERDICT r13 #4); the raw
pass lists live in BENCH_LOCAL.json / BENCH_HISTORY.jsonl.

Full cold+warm per-query detail goes to BENCH_LOCAL.json next to this file.

Subset runs, for re-measuring a few queries while working on them:
    python bench.py --only name1 name2 ...
    python bench.py --top 20      # the 20 slowest warm entries of BENCH_LOCAL.json
time the named queries with the same loop and print one JSON object
{"queries": {name: {"cold", "warm", "raw"}}, "warm_total"}; they skip the
calibration probes and write neither BENCH_LOCAL.json nor
BENCH_HISTORY.jsonl.

Each query executes fully via the noop datasource sink (forces the whole
plan — unlike count(), which lets Catalyst prune the projection). The cache
is cleared between queries so one operator's persist() (e.g. the MinHash
shingle-hash relation) can't squeeze executor storage memory for every
query that follows — the warm number measures the query, not its
neighbours' leftovers.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LINE_BUDGET = 1900  # bytes; driver tail capture is ~2000

# The stdout line's NAMED query set is pinned to the round-15 set (r15
# VERDICT #5/PERF churn: ranking the named entries by speed made 27
# queries "drop from"/"appear in" the line between rounds purely from
# the fold order, reading as phantom inventory changes). Pinning makes
# the round-over-round per-query diff stable; every OTHER query's
# timing is still recorded — the full 388-entry map goes to
# BENCH_LOCAL.json and BENCH_HISTORY.jsonl with every run.
PINNED_QUERIES = [
    "aa_calibration_fpr", "anderson_darling_priorities", "ann_recall_ivfadc",
    "ann_recall_jl", "ann_recall_lsh_multiprobe", "ann_recall_nsw",
    "ann_recall_pq", "association_rules", "benchmark_contamination",
    "bpe_segmented_corpus", "brown_forsythe_priority", "cdc_chunk_dedup",
    "column_stats_profile", "containment_near_dups",
    "coreset_cluster_balanced", "corpus_filter_pipeline",
    "cube_revenue_flag_status", "duplicate_detection_parity",
    "duplicate_groups_hot_key", "embedding_ann_ivf", "embedding_ann_ivfadc",
    "embedding_ann_ivfpq", "embedding_ann_jl", "embedding_ann_pq",
    "embedding_ann_refined", "embedding_pq_codes", "esd_outliers_daily",
    "good_turing_unseen_mass", "item_cooccurrence_topk",
    "jonckheere_terpstra_priority", "kmeans_clusters", "minhash_lsh_pairs",
    "mmr_diversity_eval", "naive_bayes_cv_folds", "ngram_jaccard_topk",
    "ngram_novelty_rate", "ols_price_regression", "oph_minhash_pairs",
    "pagerank_top_nodes", "personalized_pagerank", "phrase_search",
    "pii_redaction", "prefix_filter_similar", "psi_metric_extraction",
    "q2_min_cost_supplier", "quality_classifier_scores", "rake_keyphrases",
    "repetition_signals", "rolling_median_7d", "semantic_dedup",
    "shapley_channel_attribution", "split_leakage_neardups",
    "symspell_name_matches", "table_fingerprints", "tfidf_top_terms",
    "token_entropy", "tokenizer_fertility_eval", "trimmed_mean_price",
]

# Reference calibration probes for the normalized headline: the r15
# DRIVER box (PERF_r15 calibration: sql 0.323 s, udf 0.564 s). The
# normalized total answers "what would this run read on the r15 driver
# box", so cross-box/cross-session drift (measured up to 4x on these
# sandboxes) stops masquerading as code change. Raw value stays the
# headline; value_norm rides alongside.
NORM_REF = {"sql_probe": 0.323, "udf_probe": 0.564}


def _calibration(spark) -> dict[str, float]:
    """Fixed machine-speed probes, recorded with every bench run so
    cross-round deltas can be normalized for sandbox drift (round 6
    showed ~2x machine drift that read as a code regression until the
    old snapshot was re-timed by hand).

    Two probes because the two hot paths drift independently:
    - sql_probe: whole-stage-codegen JVM arithmetic (hash + aggregate
      over a range) — tracks JVM/CPU speed.
    - udf_probe: an Arrow-batched pandas UDF hashing synthetic strings,
      shaped like the shingle hashers — tracks Python worker + Arrow
      transfer speed, the path behind the minhash/ngram family.

    Both are input-deterministic and independent of SF_DIR; each is the
    min of two warm runs (first run pays codegen / worker spin-up).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _hash_series(s):
        import zlib

        return s.map(lambda x: zlib.crc32(x.encode()))

    # lambda-style registration: the module's `from __future__ import
    # annotations` stringifies type hints, which pandas_udf can't infer
    _probe_hash = pandas_udf(_hash_series, "long")

    sql_df = spark.range(20_000_000).select(
        F.expr("bit_xor(xxhash64(cast(id * 31 as string))) as h")
    )
    udf_df = (
        spark.range(200_000)
        .select(
            F.concat(F.lit("calibration-probe-"), F.col("id").cast("string"))
            .alias("s")
        )
        .select(F.sum(_probe_hash(F.col("s"))).alias("h"))
    )
    out: dict[str, float] = {}
    for key, df in (("sql_probe", sql_df), ("udf_probe", udf_df)):
        runs = []
        for _ in range(3):
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
        out[key] = round(min(runs[1:]), 3)  # drop the cold first run
    return out


def _compact(payload: dict, warm: dict[str, float]) -> str:
    """Render the JSON line with the PINNED named set (everything else
    folded into "_other"), sorted slowest-first. If the line somehow
    still overflows the budget, fold the fastest pinned entries as a
    last resort (never expected — the pinned set fit with 48 bytes spare
    in r15)."""
    pinned = {k: warm[k] for k in PINNED_QUERIES if k in warm}
    other = sum(v for k, v in warm.items() if k not in pinned)
    keep = dict(sorted(pinned.items(), key=lambda kv: -kv[1]))
    keep["_other"] = round(other, 2)
    while True:
        payload["queries"] = {k: round(v, 2) for k, v in keep.items()}
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= LINE_BUDGET or len(keep) <= 5:
            return line
        # drop the two fastest remaining entries into the _other bucket
        names = [k for k in keep if k != "_other"][-2:]
        other = keep.pop("_other", 0.0) + sum(keep.pop(n) for n in names)
        keep["_other"] = round(other, 2)


def _time_query(spark, fn) -> tuple[float, list[float]]:
    """One query's cold pass (build + first run) and its warm passes."""
    t0 = time.time()
    df = fn(spark, SF_DIR)
    df.write.mode("overwrite").format("noop").save()
    cold = time.time() - t0
    # steady-state: plan already optimized + codegen compiled — the
    # number that scales with data (cold includes one-time plan
    # compilation, which amortizes to zero on real workloads). Two
    # warm runs minimum: in a single shared JVM a single pass gets
    # charged for a neighbour's GC pause — r3→r4 showed 2-4x phantom
    # regressions on unchanged code from exactly that.
    runs = []
    for _ in range(2):
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        runs.append(time.time() - t0)
    # noise guard (VERDICT r10 #5: a GC hiccup hit BOTH warm passes of
    # corpus_filter_pipeline in BENCH_r10 and shipped a 4.4x phantom):
    # when the two warm passes disagree >1.5x, or the best warm pass
    # is slower than the cold run (warm <= cold by construction —
    # cold includes plan compilation), take a third pass so the
    # median discards the outlier. Bounded cost: only noisy queries
    # pay it.
    if (min(runs) > 0.3 and max(runs) / min(runs) > 1.5) or min(
        runs
    ) > cold * 1.2:
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        runs.append(time.time() - t0)
    # drop any persist() an operator took out (minhash/ngram hash
    # relations): storage-memory hygiene between queries
    spark.catalog.clearCache()
    return cold, runs


def _subset(spark, queries: dict, names: list[str]) -> None:
    out: dict[str, dict] = {}
    for name in names:
        cold, runs = _time_query(spark, queries[name])
        out[name] = {
            "cold": round(cold, 3),
            "warm": round(statistics.median(runs), 3),
            "raw": [round(r, 3) for r in runs],
        }
        print(
            f"{name}: warm={out[name]['warm']} cold={out[name]['cold']}"
            f" raw={out[name]['raw']}",
            file=sys.stderr,
        )
    total = round(sum(v["warm"] for v in out.values()), 3)
    print(json.dumps({"queries": out, "warm_total": total}, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    pick = ap.add_mutually_exclusive_group()
    pick.add_argument("--only", nargs="+", metavar="NAME")
    pick.add_argument("--top", type=int, metavar="N")
    args = ap.parse_args()
    repo = os.path.dirname(os.path.abspath(__file__))
    names = args.only
    if args.top:
        with open(os.path.join(repo, "BENCH_LOCAL.json")) as fh:
            base = json.load(fh)["queries"]
        names = sorted(base, key=lambda k: -base[k])[: args.top]

    from dawis_spark import queries as q
    from dawis_spark.session import get_spark

    from dawis_spark.catalog import register_testdata

    spark = get_spark("dawis-bench")
    # warm the JVM/session and register the catalog views: connection +
    # catalog setup is session scaffolding, not query work — query 1
    # shouldn't be charged for 10 parquet schema-footer reads.
    spark.range(1000).count()
    register_testdata(spark, SF_DIR)
    if names:
        _subset(spark, q.QUERIES, names)
        return
    calibration = _calibration(spark)

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_raw: dict[str, list[float]] = {}
    warm_passes: dict[str, int] = {}
    for name, fn in q.QUERIES.items():
        c, runs = _time_query(spark, fn)
        cold[name] = round(c, 3)
        # the REPORTED number is the MEDIAN of the warm passes (VERDICT
        # r13 #4): min-of-N systematically reads ratchet-down luck as
        # improvement, and the committed same-box A/B (BENCH_HISTORY
        # entries 21-22) measured median 15.6% / p90 47% single-pass
        # swing on UNCHANGED code — two rounds of phantom-regression
        # investigations came from exactly that. Raw passes + pass count
        # are kept alongside so the distribution stays diffable.
        warm[name] = round(statistics.median(runs), 3)
        warm_raw[name] = [round(r, 3) for r in runs]
        warm_passes[name] = len(runs)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    detail = {
        "metric": "warm wall-clock of full query inventory (noop sink)",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "queries_cold": cold,
        "queries_raw": warm_raw,
        "queries_passes": warm_passes,
        "per_query_stat": "median of warm passes",
        "cold_total": round(sum(cold.values()), 3),
        "n_queries": len(warm),
        "sf": sf_val,
        "calibration": calibration,
    }
    # probe-normalized headline (r15 VERDICT #3 method note): scale the
    # raw warm total by the mean probe-speed ratio vs the r15 driver box
    # so cross-box drift is visible next to the raw number.
    norm_factor = 0.5 * (
        NORM_REF["sql_probe"] / max(calibration["sql_probe"], 1e-9)
        + NORM_REF["udf_probe"] / max(calibration["udf_probe"], 1e-9)
    )
    detail["value_norm"] = round(detail["value"] * norm_factor, 1)
    detail["norm_ref"] = NORM_REF
    with open(os.path.join(repo, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    # Full per-query history (VERDICT r8 #4): the driver's stdout tail is
    # ~2000 bytes, so the JSON line can never carry all timings — the
    # complete map for EVERY run is appended here (committed with the
    # repo) so tail regressions are diffable round-over-round; see
    # tools/bench_diff.py.
    try:
        import subprocess

        head = subprocess.run(
            ["git", "-C", repo, "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except Exception:
        head = ""
    hist_entry = dict(detail, git_head=head, ts=round(time.time(), 1))
    with open(os.path.join(repo, "BENCH_HISTORY.jsonl"), "a") as fh:
        fh.write(json.dumps(hist_entry, separators=(",", ":")) + "\n")
    line_payload = {
        "metric": "warm wall-clock, full inventory (noop sink)",
        "stat": "median-of-warm-passes",
        "value": detail["value"],
        "value_norm": detail["value_norm"],
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
        "cold_total": detail["cold_total"],
        "n_queries": detail["n_queries"],
        "calibration": calibration,
        "full_map": "BENCH_HISTORY.jsonl",  # all timings, every run
    }
    print(_compact(line_payload, warm))


if __name__ == "__main__":
    main()
