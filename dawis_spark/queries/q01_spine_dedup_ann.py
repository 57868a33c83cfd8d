"""Query inventory, part 1/6 (definition order preserved from the pre-split queries.py; see _registry.REGISTRY_ORDER).

Relational spine (TPC-H shapes), enrichment, exact/MinHash/SimHash dedup, ANN ladder (LSH/IVF/PQ/JL), session windows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawis_spark.operators.similarity import TRAIN_SAMPLE_LIMIT, top_k_sql
from dawis_spark.plans.sql_runner import run_query
from dawis_spark.queries._fragments import (
    ann_recall_sql,
    bm25_ctes,
    exact_topk,
    recall_at_k,
)
from dawis_spark.queries._registry import query

# ---------------------------------------------------------------------------
# Core relational spine (SURVEY §2.5 aggregations, §3.2 SQL-on-warehouse path)
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  ROUND(AVG(l_quantity), 6)                                       AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                                  AS avg_price,
  ROUND(AVG(l_discount), 6)                                       AS avg_disc,
  COUNT(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=_Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape through the parameterized SQL runner (S9, §3.2).

    Scale: single scan of the fact table with the date predicate pushed to
    parquet; partial aggregation map-side; the groupBy key space is tiny
    (RF x LS = 6 groups) so the shuffle is negligible at any scale.
    """
    return run_query(
        spark,
        _Q1_SQL.replace("TIMESTAMP '2001-09-01 00:00:00'", ":cutoff"),
        parameters={"cutoff": "2001-09-01 00:00:00"},
    )


_Q3_SQL = """
SELECT
  l_orderkey,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=_Q3_SQL)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact joins -> top-k (W3/W4).

    Scale: customer(filtered) is small relative to lineitem, AQE converts
    the first join to broadcast; the final ORDER BY ... LIMIT is a TakeOrdered,
    not a global sort.
    """
    c = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = spark.table("orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = spark.table("lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_SQL = """
SELECT
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q5_region_revenue", oracle=_Q5_SQL)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join through two tiny dims (broadcast) + facts.

    Scale: nation/region/supplier are classic broadcast dims (SURVEY §2.4:
    "broadcast hints for the small sides"); only orders x lineitem shuffles,
    on the join key both sides already share.
    """
    n = F.broadcast(spark.table("nation"))
    r = F.broadcast(spark.table("region").filter(F.col("r_name") == "EUROPE"))
    s = spark.table("supplier")
    c = spark.table("customer")
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = spark.table("lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# dawis operator semantics (SURVEY §2.3-2.7): enrichment, checks, alerts,
# windows, previous-period join, set ops, column mapping, anti-join
# ---------------------------------------------------------------------------

_MATCH_ORACLE = r"""
SELECT
  p_partkey,
  p_name,
  CASE
    WHEN contains(p_name, 'gear') THEN 'tool'
    WHEN contains(p_name, 'nut') THEN 'fastener'
    WHEN contains(p_name, 'bolt') THEN 'fastener'
    WHEN regexp_matches(p_name, '(ring)') THEN 'ring_item'
    WHEN regexp_matches(p_name, '^(small|red) (\w+)$')
      THEN 'sz_' || regexp_extract(p_name, '^(small|red) (\w+)$', 2)
    ELSE 'other'
  END AS label
FROM part
ORDER BY p_partkey
"""


@query("match_enrichment", oracle=_MATCH_ORACLE)
def match_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4+P5 (google_search_console.py op:335-386): ordered regex and
    CSV-contains expressions with last-write-wins overwrite + fallback.

    Scale: one map-side when-chain projection, zero shuffle; the pattern
    set is YAML/CSV config (tens of entries), folded into codegen.
    """
    from dawis_spark.operators.enrich import match_enrich

    expressions = [
        {"regex": r"^(small|red) (\w+)$", "output": "sz_$2"},
        {"regex": r"(ring)", "output": "ring_item"},
        {"csv": {"fastener": ["bolt", "nut"], "tool": ["gear"]}, "useRegex": False},
    ]
    df = match_enrich(
        spark.table("part"), "p_name", "label", expressions, fallback="other"
    )
    return df.select("p_partkey", "p_name", "label").orderBy("p_partkey")


_CHECKS_ORACLE = """
SELECT event_id, 'value_nonneg' AS "check", CAST(value AS VARCHAR) AS value, value >= 0 AS valid FROM events
UNION ALL
SELECT event_id, 'value_small' AS "check", CAST(value AS VARCHAR) AS value, value < 50 AS valid FROM events
UNION ALL
SELECT event_id, 'is_click' AS "check", CAST(event_type AS VARCHAR) AS value, event_type = 'click' AS valid FROM events
"""


@query("comparison_checks", oracle=_CHECKS_ORACLE)
def comparison_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 comparison mini-DSL -> typed Column predicates (parsing.py:4-55),
    emitted as normalized check rows (service/check.py:27-57 semantics:
    stringified value + boolean valid)."""
    from dawis_spark.operators.checks import check_rows

    return check_rows(
        spark.table("events"),
        checks={
            "value_nonneg": "{value} >= 0",
            "value_small": "{value} < 50",
            "is_click": "{event_type} == click",
        },
        value_cols={
            "value_nonneg": "value",
            "value_small": "value",
            "is_click": "event_type",
        },
        key_cols=["event_id"],
    )


_ALERTS_ORACLE = """
SELECT g."group", event_type || ' exceeded: ' || CAST(value AS VARCHAR) AS message
FROM events, (VALUES ('ops'), ('seo')) g("group")
WHERE value > 90
"""


@query("alerts_per_line", oracle=_ALERTS_ORACLE)
def alerts_per_line_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (alerting_check.py:171-196): per-row check, alert per failing row
    per group; alert fires iff check-result != negate (the reference's XOR)."""
    from dawis_spark.operators.checks import alerts_per_line

    return alerts_per_line(
        spark.table("events"),
        check_template="{value} > 90",
        groups=["ops", "seo"],
        message_template="{event_type} exceeded: {value}",
        negate=False,
    )


_PREV_DAY_ORACLE = """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day, ROUND(SUM(value), 2) AS total
  FROM events GROUP BY 1, 2
)
SELECT c.event_type, c.day, c.total, p.total AS totalPreviousDay
FROM d c LEFT JOIN d p
  ON p.event_type = c.event_type AND p.day = c.day - INTERVAL 1 DAY
ORDER BY 1, 2
"""


@query("prev_period_day", oracle=_PREV_DAY_ORACLE)
def prev_period_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 previous-period enrichment (google_search_console.py:369-408):
    the reference's per-row find_one lookup becomes ONE self left join on
    the dimension key + shifted date.

    Scale: both join sides are the same pre-aggregated (small) daily
    rollup; on day-partitioned facts the previous slice prunes to one
    partition."""
    from dawis_spark.operators.period import previous_period_join

    daily = (
        spark.table("events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    out = previous_period_join(
        daily, keys=["event_type"], date_col="day", metrics=["total"], period="Day"
    )
    return out.select("event_type", "day", "total", "totalPreviousDay").orderBy(
        "event_type", "day"
    )


_LATEST_ORACLE = """
SELECT user_id, event_id, ts, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


@query("latest_event_per_user", oracle=_LATEST_ORACLE)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/J4 latest-snapshot-per-key (mongodb.py:128-131 find_last_sorted):
    row_number over (key, time desc) with a unique-id tie-break."""
    from dawis_spark.operators.windows import latest_per_key

    return latest_per_key(
        spark.table("events").select("user_id", "event_id", "ts", "event_type", "value"),
        keys=["user_id"],
        order_by=[F.desc("ts"), F.desc("event_id")],
    ).orderBy("user_id")


_CHANGE_ORACLE = """
SELECT user_id, event_id, event_type, lagged AS diff
FROM (
  SELECT user_id, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lagged
  FROM events
)
WHERE lagged IS NOT NULL AND event_type != lagged
ORDER BY user_id, event_id
"""


@query("change_detection", oracle=_CHANGE_ORACLE)
def change_detection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 change detection (metatags.py:209-275): value vs previous snapshot
    of the same key; previous value carried as ``diff``."""
    from dawis_spark.operators.windows import change_detection

    out = change_detection(
        spark.table("events").select("user_id", "event_id", "ts", "event_type"),
        keys=["user_id"],
        order_by=[F.asc("ts"), F.asc("event_id")],
        value_col="event_type",
    )
    return out.select("user_id", "event_id", "event_type", "diff").orderBy(
        "user_id", "event_id"
    )


_DUPS_CAP = 10

_DUPS_ORACLE = f"""
WITH g AS (
  SELECT p_name,
         list_sort(list_transform(list(p_partkey), x -> CAST(x AS VARCHAR))) AS ids
  FROM part GROUP BY p_name HAVING count(*) > 1
),
x AS (SELECT p_name, ids, unnest(ids) AS id FROM g)
SELECT id AS p_partkey, p_name,
       array_to_string(list_slice(list_filter(ids, v -> v != id), 1, {_DUPS_CAP}), ', ') AS diff
FROM x
ORDER BY p_name, p_partkey
"""


@query("duplicate_detection", oracle=_DUPS_ORACLE)
def duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 duplicate detection (metatags.py:277-377): group by value, groups
    of size > 1 are duplicates; one row per (value, id) with ``diff`` =
    comma-joined OTHER ids, capped at the first ``_DUPS_CAP`` sorted
    other-ids.

    The cap is the DEFAULT because the reference's uncapped diff format is
    quadratic in group size (sf1 measured: 84.6 s, ~626M id references).
    ``duplicate_detection_parity`` keeps the exact uncapped reference
    format as the opt-in. Scale: the capped plan never materializes a
    group's full id list (see exact_duplicate_groups)."""
    from dawis_spark.operators.dedup import exact_duplicate_groups

    return exact_duplicate_groups(
        spark.table("part"),
        id_col="p_partkey",
        value_col="p_name",
        max_diff_ids=_DUPS_CAP,
    ).orderBy("p_name", "p_partkey")


_NO_ORDERS_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


@query("customers_without_orders", oracle=_NO_ORDERS_ORACLE)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 existence/idempotency predicate as a left-anti join — the
    exactly-once-append building block (idempotent.py uses the same plan).

    Scale: anti join shuffles only the key columns; with AQE it broadcasts
    the smaller side."""
    c = spark.table("customer")
    o = spark.table("orders").select("o_custkey").distinct()
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_TOPK_ORACLE = """
WITH rev AS (
  SELECT p_brand, p.p_partkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p_brand, p.p_partkey
)
SELECT p_brand, p_partkey, revenue, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rank
  FROM rev
)
WHERE rank <= 3
ORDER BY p_brand, rank
"""


@query("top_parts_per_brand", oracle=_TOPK_ORACLE)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 top-k per group: agg + row_number window, deterministic tie-break.

    Scale: one shuffle for the (brand, part) rollup, one narrower shuffle
    for the per-brand window (hash partitioning on the composite key can't
    be reused for its prefix). The second exchange moves only the rolled-up
    rows (|parts| << |lineitem|), so it's negligible at any scale."""
    from dawis_spark.operators.windows import top_k_per_group

    rev = (
        spark.table("lineitem")
        .join(F.broadcast(spark.table("part")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    out = top_k_per_group(
        rev, keys=["p_brand"], order_by=[F.desc("revenue"), F.asc("p_partkey")], k=3
    )
    return out.select(
        "p_brand", "p_partkey", "revenue", F.col("rank_in_group").alias("rank")
    ).orderBy("p_brand", "rank")


_UNION_ORACLE = """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 20
  UNION ALL
  SELECT user_id FROM events WHERE event_type = 'signup'
) ORDER BY user_id
"""


@query("union_dedup", oracle=_UNION_ORACLE)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set semantics: the retry-queue merge (unionByName +
    dropDuplicates, google_search_console.py:53-129) as a data-plane op."""
    e = spark.table("events")
    a = e.filter((F.col("event_type") == "purchase") & (F.col("value") > 20)).select(
        "user_id"
    )
    b = e.filter(F.col("event_type") == "signup").select("user_id")
    return a.unionByName(b).dropDuplicates().orderBy("user_id")


_EXCEPT_ORACLE = """
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
ORDER BY user_id
"""


@query("set_except", oracle=_EXCEPT_ORACLE)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (beyond the reference's implicit set ops): users who
    clicked but never errored."""
    e = spark.table("events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    erroring = e.filter(F.col("event_type") == "error").select("user_id")
    return clickers.subtract(erroring).orderBy("user_id")


_SQLPARAM_ORACLE = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events WHERE ts >= DATE '2024-01-15'
GROUP BY event_type ORDER BY event_type
"""


@query("sql_params_date_days_ago", oracle=_SQLPARAM_ORACLE)
def sql_params_date_days_ago(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/§3.2: parameterized SQL with the reference's ``dateDaysAgo``
    dynamic parameter (query_helper.py:73-78), bound as a typed date inside
    Catalyst (constant-folded -> partition-prunable)."""
    import datetime as dt

    return run_query(
        spark,
        "SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total "
        "FROM events WHERE ts >= :cutoff GROUP BY event_type ORDER BY event_type",
        parameters={"cutoff": {"dateDaysAgo": 5}},
        today=dt.date(2024, 1, 20),
    )


_COLMAP_ORACLE = """
SELECT event_id AS id, event_type AS kind, value FROM events ORDER BY id
"""


@query("column_mapping_nested", oracle=_COLMAP_ORACLE)
def column_mapping_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 column mapping incl. nested-struct field rename
    (query_helper.py:87-156): rename a field inside a struct and a
    top-level column, then flatten — all compile-time plan rewrites."""
    from dawis_spark.plans.column_mapping import apply_column_mapping

    df = spark.table("events").select(
        "event_id",
        F.struct(F.col("event_type").alias("type"), F.col("value")).alias("payload"),
    )
    df = apply_column_mapping(df, {"payload.type": "kind", "event_id": "id"})
    return df.select(
        "id", F.col("payload.kind").alias("kind"), F.col("payload.value").alias("value")
    ).orderBy("id")


_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM e GROUP BY user_id ORDER BY user_id
"""


@query("sessionization", oracle=_SESSION_ORACLE)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) via lag + conditional count — the
    batch analog of streaming session windows (§2.9; in streaming this is
    ``session_window``/``applyInPandasWithState``)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = spark.table("events").withColumn("prev_ts", F.lag("ts").over(w))
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"))
        .orderBy("user_id")
    )


_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("tumbling_window_agg", oracle=_TUMBLING_ORACLE)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate via ``F.window`` — identical code shape to
    the Structured Streaming version (readStream + watermark + window);
    §2.9's daily-partition micro-batches generalized."""
    e = spark.table("events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total"
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# LLM-training-data pipeline operators (BASELINE.json north star):
# dedup, similarity search, text analysis. Oracles are generated from the
# SAME dual-rendered fragments the Spark plans use (functions/text.py,
# functions/vectors.py) — parity by construction.
# ---------------------------------------------------------------------------

from dawis_spark.functions import text as _TXT
from dawis_spark.functions import vectors as _VEC
from dawis_spark.operators import textstats as _TS

_N_PERMS, _BANDS, _SHINGLE_K = 8, 4, 3
_ROWS_PER_BAND = _N_PERMS // _BANDS
# Oracle twin of operators/dedup.lsh_candidate_pairs: the band key of
# band ``b`` of a ``sig`` list, and, over a ``sigs (doc_id, sig)`` CTE,
# the banded rows and the distinct candidate pairs they propose.
_BAND_KEY = " || ':' || ".join(
    f"CAST(sig[b * {_ROWS_PER_BAND} + {r + 1}] AS VARCHAR)"
    for r in range(_ROWS_PER_BAND)
)
_LSH_CANDS_CTES = f"""bands AS (
  SELECT doc_id, t.b AS band, {_BAND_KEY} AS key
  FROM sigs, range(0, {_BANDS}) t(b)
),
cands AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
)"""


def _norm_text(dialect: str) -> str:
    return _TS.normalized_text_sql("text", dialect)


_EXACT_DEDUP_ORACLE = f"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS group_size
FROM documents
GROUP BY {_norm_text('duck')}
ORDER BY doc_id
"""


@query("dedup_exact", oracle=_EXACT_DEDUP_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: keep the lowest doc_id per
    normalized-text group. Oracle groups by the normalized text itself —
    agreeing results also validate the fingerprint's injectivity here.

    Scale: the shuffle carries (64-bit-ish hash, id), never document
    bodies; survivors semi-join back (see operators/dedup.exact_dedup).
    """
    from dawis_spark.operators.textstats import fingerprint

    fp = fingerprint(spark.table("documents"), "doc_id", "text")
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("group_size"))
        .select("doc_id", "group_size")
        .orderBy("doc_id")
    )


def _minhash_sig_oracle() -> str:
    sh = _TXT.shingle_hashes("text", _SHINGLE_K, "duck")
    elems = [
        f"{_TXT.minhash_element('sh', a, b, 'duck')} AS m{i}"
        for i, (a, b) in enumerate(_TXT.minhash_coeffs(_N_PERMS))
    ]
    return (
        f"WITH s AS (SELECT doc_id, {sh} AS sh FROM documents) "
        f"SELECT doc_id, {', '.join(elems)} FROM s WHERE len(sh) > 0 ORDER BY doc_id"
    )


@query("minhash_signatures", oracle=_minhash_sig_oracle())
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (Broder '97): K=8 permutations over word-3-gram
    polynomial hashes — all map-side codegen, no shuffle, no Python."""
    from dawis_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(
        spark.table("documents"), "doc_id", "text", _N_PERMS, _SHINGLE_K
    )
    return sigs.select(
        "doc_id", *[F.expr(f"sig[{i}]").alias(f"m{i}") for i in range(_N_PERMS)]
    ).orderBy("doc_id")


def _doc_near_dups(spark: SparkSession) -> DataFrame:
    """The documents' MinHash-LSH near-duplicate pairs at Jaccard >= 0.2:
    (id_a, id_b, jaccard). SQL twin: ``_lsh_pairs_oracle(0.2)``."""
    from dawis_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        spark.table("documents"),
        "doc_id",
        "text",
        n_perms=_N_PERMS,
        bands=_BANDS,
        threshold=0.2,
        shingle_k=_SHINGLE_K,
    )


def _lsh_pairs_oracle(threshold: float) -> str:
    sh = _TXT.shingle_hashes("text", _SHINGLE_K, "duck")
    sig = _TXT.minhash_sig("sh", _N_PERMS, "duck")
    jac = _TXT.jaccard("a.sh", "b.sh", "duck")
    return f"""
WITH hashes AS (SELECT doc_id, {sh} AS sh FROM documents),
sigs AS (SELECT doc_id, {sig} AS sig FROM hashes WHERE len(sh) > 0),
{_LSH_CANDS_CTES}
SELECT id_a, id_b, ROUND({jac}, 6) AS jaccard
FROM cands JOIN hashes a ON a.doc_id = id_a JOIN hashes b ON b.doc_id = id_b
WHERE ROUND({jac}, 6) >= {threshold}
ORDER BY id_a, id_b
"""


@query("minhash_lsh_pairs", oracle=_lsh_pairs_oracle(0.2))
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: banded candidate generation ->
    exact-Jaccard verification (>= 0.2).

    Scale: the ONLY shuffle is the band-bucket self-join on (band, key);
    exact Jaccard runs on candidate pairs, not all pairs. AQE splits
    skewed buckets (boilerplate-heavy corpora)."""
    return _doc_near_dups(spark).orderBy("id_a", "id_b")


def _ngram_topk_oracle(cap: int = 100) -> str:
    """Scale-invariant replay of the blocked/capped routing: blocks up to
    ``cap`` rows pair exactly; hot blocks replay the block-scoped
    MinHash-LSH route (band self-join within the block), so the oracle
    matches at ANY scale factor, not just where every block stays small
    (sf0.1 has 250-row blocks that route through LSH)."""
    sh = _TXT.shingle_hashes("text", _SHINGLE_K, "duck")
    sig = _TXT.minhash_sig("sh", _N_PERMS, "duck")
    jac = _TXT.jaccard("a.sh", "b.sh", "duck")
    return f"""
WITH h0 AS (SELECT source, doc_id, {sh} AS sh FROM documents),
h AS (SELECT * FROM h0 WHERE len(sh) > 0),
sizes AS (SELECT source, COUNT(*) AS bn FROM documents GROUP BY source),
bsigs AS (
  SELECT h.source, h.doc_id, {sig} AS sig
  FROM h JOIN sizes s ON s.source = h.source AND s.bn > {cap}
),
bbands AS (
  SELECT source, doc_id, t.b AS band, {_BAND_KEY} AS key
  FROM bsigs, range(0, {_BANDS}) t(b)
),
pairs AS (
  SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b, 'exact' AS pair_method
  FROM h a
  JOIN h b ON a.source = b.source AND a.doc_id < b.doc_id
  JOIN sizes s ON s.source = a.source AND s.bn <= {cap}
  UNION ALL
  SELECT DISTINCT x.source, x.doc_id AS id_a, y.doc_id AS id_b, 'lsh' AS pair_method
  FROM bbands x
  JOIN bbands y ON x.source = y.source AND x.band = y.band AND x.key = y.key
              AND x.doc_id < y.doc_id
)
SELECT p.source AS source, p.id_a, p.id_b, ROUND({jac}, 6) AS jaccard, p.pair_method
FROM pairs p
JOIN h a ON a.doc_id = p.id_a
JOIN h b ON b.doc_id = p.id_b
ORDER BY jaccard DESC, id_a, id_b
LIMIT 20
"""


@query("ngram_jaccard_topk", oracle=_ngram_topk_oracle())
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: all pairs WITHIN a blocking group
    (source), top-20 most similar. Blocking is what keeps exact Jaccard
    feasible at scale — never all-pairs the corpus — and the per-block
    pair budget (max_block_rows=100) routes hot blocks through
    block-scoped MinHash LSH instead of O(n²) all-pairs. At sf0.01 every
    block (25 rows) stays exact; at sf0.1 (250-row blocks) the same query
    exercises the approximate scale path. The oracle replays the SAME
    size-based routing, so parity holds at either scale."""
    from dawis_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        spark.table("documents"),
        "doc_id",
        "text",
        "source",
        _SHINGLE_K,
        max_block_rows=100,
        n_perms=_N_PERMS,
        bands=_BANDS,
    )
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(20)


def _simhash_oracle(bits: int = 32) -> str:
    toks = _TXT.tokens("text", "duck")
    h = _TXT.char_hash("tok", "duck")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    combine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
th AS (SELECT doc_id, {h} AS h FROM tok),
bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id)
SELECT doc_id, {combine} AS simhash FROM bits ORDER BY doc_id
"""


@query("simhash_docs", oracle=_simhash_oracle())
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash (Charikar 2002): per-token hash, bit-majority vote.
    explode + groupBy(doc) keeps partial aggregation map-side."""
    from dawis_spark.operators.dedup import simhash

    return simhash(spark.table("documents"), "doc_id", "text", bits=32).orderBy(
        "doc_id"
    )


def _embedding_topk_oracle(k: int, n_queries: int) -> str:
    cos = _VEC.cosine("q_vec", "c_vec", "duck")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < {n_queries}),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, ROUND({cos}, 6) AS cosine
  FROM q, c WHERE query_id != neighbor_id
)
{top_k_sql("scored", k)}
"""


@query("embedding_topk", oracle=_embedding_topk_oracle(5, 10))
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k ANN baseline: broadcast the query set against the
    corpus (map-side nested loop, corpus never shuffles), per-query top-k
    window. Ties broken on (rounded score, neighbor_id)."""
    from dawis_spark.operators.similarity import brute_force_topk

    emb = spark.table("embeddings")
    return brute_force_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
    ).orderBy("query_id", "rank")


def _ann_lsh_oracle(k: int, n_queries: int, n_planes: int, dim: int) -> str:
    from dawis_spark.operators.similarity import lsh_bucket_expr

    cos = _VEC.cosine("q_vec", "c_vec", "duck")
    bucket = lsh_bucket_expr(n_planes, dim, "duck")
    return f"""
WITH b0 AS (SELECT vec_id, embedding AS vec FROM embeddings),
b AS (SELECT vec_id, vec, {bucket} AS bucket FROM b0),
q AS (SELECT vec_id AS query_id, vec AS q_vec, bucket FROM b WHERE vec_id < {n_queries}),
c AS (SELECT vec_id AS neighbor_id, vec AS c_vec, bucket FROM b),
scored AS (
  SELECT query_id, neighbor_id, ROUND({cos}, 6) AS cosine
  FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id
)
{top_k_sql("scored", k)}
"""


@query("embedding_ann_lsh", oracle=_ann_lsh_oracle(5, 10, 4, 64))
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN (sign random projection, Charikar 2002):
    exact cosine only within the query's bucket.

    Scale path vs embedding_topk: bucket assignment is map-side; the only
    shuffle is the bucket equi-join — O(N*Q) becomes O(N*Q / 2^planes)."""
    from dawis_spark.operators.similarity import lsh_ann_topk

    emb = spark.table("embeddings")
    return lsh_ann_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_planes=4,
        dim=64,
    ).orderBy("query_id", "rank")


def _ann_lsh_multiprobe_oracle(k: int, n_queries: int, n_planes: int, dim: int) -> str:
    from dawis_spark.operators.similarity import lsh_bucket_expr, lsh_probe_keys

    cos = _VEC.cosine("q_vec", "c_vec", "duck")
    bucket = lsh_bucket_expr(n_planes, dim, "duck")
    probes = ", ".join(lsh_probe_keys(n_planes, dim, "duck"))
    return f"""
WITH b0 AS (SELECT vec_id, embedding AS vec FROM embeddings),
q AS (
  SELECT vec_id AS query_id, vec AS q_vec, unnest([{probes}]) AS bucket
  FROM b0 WHERE vec_id < {n_queries}
),
c AS (SELECT vec_id AS neighbor_id, vec AS c_vec, {bucket} AS bucket FROM b0),
scored AS (
  SELECT DISTINCT query_id, neighbor_id, ROUND({cos}, 6) AS cosine
  FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id
)
{top_k_sql("scored", k)}
"""


@query("embedding_ann_lsh_multiprobe", oracle=_ann_lsh_multiprobe_oracle(5, 10, 4, 64))
def embedding_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al. 2007): each query probes its own
    bucket plus every Hamming-1 neighbor bucket — recall@5 rises from 0.36
    to 0.76 on this corpus (see ann_recall_lsh_multiprobe) for ~(planes+1)x
    the candidate cost. Scale shape unchanged: only the SMALL query side
    fans out (explode before the broadcast), the corpus keeps one map-side
    bucket per row and the only shuffle is still the bucket equi-join."""
    from dawis_spark.operators.similarity import lsh_ann_topk

    emb = spark.table("embeddings")
    return lsh_ann_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_planes=4,
        dim=64,
        multi_probe=True,
    ).orderBy("query_id", "rank")


def _kmeans_c1_ctes(k: int, dim: int, prefix: str = "", where: str = "") -> str:
    """CTE chain replaying train_kmeans(iterations=1): init = k lowest-id
    vectors (components rounded 6), one assign/update round, empty
    clusters keep their centroid. Ends with ``{prefix}c1(cid, cvec)``.

    ``prefix`` namespaces every CTE so the chain composes into oracles
    that define their own v/init/a1/upd (the PQ family).

    NB: alias names must avoid 'i' — the duck fragment binds a lambda
    variable i in list_transform(range(...)) and a table alias i would
    shadow it inside the correlated subquery.

    Training reads only the ``TRAIN_SAMPLE_LIMIT`` lowest-id prefix
    ({p}tr), mirroring the library's bounded driver-side sample — parity
    holds even when the corpus outgrows the limit (ADVICE r6).

    ``where``: optional predicate restricting the corpus (filtered-ANN
    composition) — applied to init and {p}v alike, mirroring a library
    call that trains on an already-filtered DataFrame."""
    p = prefix
    wh = f"WHERE {where} " if where else ""
    cos_init = _VEC.cosine_null("tr.vec", "ini.cvec", "duck")
    return f"""
{p}init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cvec
  FROM embeddings {wh}ORDER BY vec_id LIMIT {k}
),
{p}v AS (SELECT vec_id, embedding AS vec FROM embeddings {wh}),
{p}tr AS (SELECT vec_id, vec FROM {p}v ORDER BY vec_id LIMIT {TRAIN_SAMPLE_LIMIT}),
{p}a1 AS (
  SELECT tr.vec_id, tr.vec,
    (SELECT ini.cid FROM {p}init ini
     ORDER BY coalesce(round({cos_init}, 6), -2.0) DESC, ini.cid LIMIT 1) AS cid
  FROM {p}tr tr
),
{p}upd AS (
  SELECT cid, r.pos AS pos, round(avg(CAST(vec[r.pos] AS DOUBLE)), 6) AS m
  FROM {p}a1, range(1, {dim + 1}) r(pos)
  GROUP BY cid, r.pos
),
{p}c1a AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM {p}upd GROUP BY cid),
{p}c1 AS (
  SELECT ini.cid, COALESCE(c1a.cvec, ini.cvec) AS cvec
  FROM {p}init ini LEFT JOIN {p}c1a c1a USING (cid)
)"""


def _kmeans_oracle(k: int, dim: int) -> str:
    cos_final = _VEC.cosine_null("v.vec", "fc.cvec", "duck")
    return f"""
WITH {_kmeans_c1_ctes(k, dim)}
SELECT v.vec_id,
  (SELECT fc.cid FROM c1 fc
   ORDER BY coalesce(round({cos_final}, 6), -2.0) DESC, fc.cid LIMIT 1) AS cid
FROM v ORDER BY v.vec_id
"""


@query("kmeans_clusters", oracle=_kmeans_oracle(8, 64))
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, one training round) over the embedding corpus
    — trains the coarse quantizer ivf_ann_topk's ``centroids=`` parameter
    consumes, closing the IVF loop (deterministic-init -> trained
    centroids -> probe search). ASSIGN is a map-side argmax against
    literal centroids; UPDATE's only shuffle carries (cid, dim, partial
    avg) triples, never vectors; the k x dim centroid matrix rides the
    driver between rounds exactly like a FAISS coarse quantizer. Every
    centroid component rounds to 6 digits per round so engine float
    drift cannot flip an assignment — the DuckDB oracle replays the
    identical round."""
    from dawis_spark.operators.similarity import kmeans_assign, train_kmeans

    emb = spark.table("embeddings")
    cents = train_kmeans(emb, "vec_id", "embedding", k=8, iterations=1)
    # sort below the assignment (the psi_metric_extraction pattern): the
    # map-side argmax is order-preserving, so the presentation sort runs
    # over the narrow scan and is never re-sampled
    return kmeans_assign(
        emb.orderBy("vec_id"), "vec_id", "embedding", cents
    ).select(F.col("id").alias("vec_id"), "cid")


def _lang_id_oracle() -> str:
    toks = _TXT.tokens("text", "duck")
    scores = _TS.language_scores_sql("text", "duck")
    score_sel = ", ".join(
        f"ROUND({e}, 6) AS {name}" for name, e in scores.items()
    )
    langs = list(_TS.STOPWORDS)
    greatest = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = "CASE WHEN " + greatest + " <= 0 THEN 'und' "
    pred += " ".join(
        f"WHEN score_{l} = {greatest} THEN '{l}'" for l in langs
    )
    pred += " ELSE 'und' END"
    return f"""
WITH t AS (SELECT doc_id, {toks} AS __toks FROM documents),
s AS (SELECT doc_id, {score_sel} FROM t)
SELECT doc_id, {', '.join('score_' + l for l in langs)}, {pred} AS lang_pred
FROM s ORDER BY doc_id
"""


@query("language_id", oracle=_lang_id_oracle())
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID heuristic — map-side only, argmax with a
    fixed tie-break order."""
    from dawis_spark.operators.textstats import language_id

    # sort below the scoring fold (the psi_metric_extraction pattern)
    return language_id(
        spark.table("documents").orderBy("doc_id"), "doc_id", "text"
    )


def _quality_oracle() -> str:
    toks = _TXT.tokens("text", "duck")
    stop = _TS._stopword_ratio_expr("en", "duck")
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars_obs,
         {toks} AS __toks,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS __punct
  FROM documents
),
o AS (
  SELECT doc_id, n_chars_obs,
         len(__toks) AS n_tokens,
         ROUND(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(__toks, t -> CAST(length(t) AS BIGINT))),
               (s, v) -> s + v) / CAST(greatest(len(__toks), 1) AS DOUBLE), 6)
           AS avg_token_len,
         ROUND(__punct / CAST(greatest(n_chars_obs, 1) AS DOUBLE), 6) AS punct_ratio,
         ROUND({stop}, 6) AS stop_ratio_en
  FROM base
)
SELECT doc_id, n_chars_obs, n_tokens, avg_token_len, punct_ratio, stop_ratio_en,
       ROUND(0.3 * least(n_tokens / 100.0, 1.0)
           + 0.4 * (1.0 - punct_ratio)
           + 0.3 * least(stop_ratio_en * 4.0, 1.0), 6) AS quality
FROM o ORDER BY doc_id
"""


@query("quality_scores", oracle=_quality_oracle())
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics (length/punct/stopword) + composite
    score — the Gopher/C4-style filtering signals, all codegen."""
    from dawis_spark.operators.textstats import quality_score

    # sort below the scoring fold (the psi_metric_extraction pattern)
    return quality_score(
        spark.table("documents").orderBy("doc_id"), "doc_id", "text"
    )


def _token_counts_oracle() -> str:
    toks = _TXT.tokens("text", "duck")
    return f"""
SELECT doc_id,
       len({toks}) AS ws_tokens,
       len(regexp_extract_all(lower(text), '{_TS.TOKEN_REGEX}')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


@query("token_counts", oracle=_token_counts_oracle())
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    from dawis_spark.operators.textstats import token_counts

    # sort below the counting fold (the psi_metric_extraction pattern)
    return token_counts(
        spark.table("documents").orderBy("doc_id"), "doc_id", "text"
    )


def _fingerprint_oracle() -> str:
    h = _TXT.char_hash("__norm", "duck")
    return f"""
WITH n AS (SELECT doc_id, {_norm_text('duck')} AS __norm FROM documents)
SELECT doc_id, {h} AS fingerprint FROM n ORDER BY doc_id
"""


@query("doc_fingerprints", oracle=_fingerprint_oracle())
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint of whitespace-normalized documents."""
    from dawis_spark.operators.textstats import fingerprint

    # sort below the hash fold (the psi_metric_extraction pattern)
    return fingerprint(
        spark.table("documents").orderBy("doc_id"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# Analytics the reference lacks but Spark gives for free (SURVEY §2.5 note:
# "no grouping sets / cube / rollup ... These come free in Spark if wanted")
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
SELECT r_name, n_name,
       ROUND(SUM(s_acctbal), 2) AS total_acctbal,
       COUNT(*) AS n_suppliers
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


@query("rollup_acctbal", oracle=_ROLLUP_SQL)
def rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (region -> nation -> grand total) in one pass —
    partial aggregation handles all grouping sets in a single shuffle."""
    return spark.sql(_ROLLUP_SQL)


_PIVOT_SQL = """
SELECT user_id,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS clicks,
       CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS views,
       CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS errors,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value
FROM events GROUP BY user_id ORDER BY user_id
"""


@query("pivot_event_counts", oracle=_PIVOT_SQL)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via the DataFrame API (groupBy().pivot() — map-side conditional
    aggregation, one shuffle, no per-category scan)."""
    e = spark.table("events")
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "error", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("val"),
        )
    )
    return pivoted.select(
        "user_id",
        F.coalesce(F.col("click_n"), F.lit(0)).alias("clicks"),
        F.coalesce(F.col("view_n"), F.lit(0)).alias("views"),
        F.coalesce(F.col("error_n"), F.lit(0)).alias("errors"),
        F.coalesce(F.col("purchase_val"), F.lit(0.0)).alias("purchase_value"),
    ).orderBy("user_id")


_PCTL_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.90), 6) AS p90
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("percentiles_by_type", oracle=_PCTL_SQL)
def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``). At 100 TB swap in percentile_approx (t-digest) —
    same plan shape, bounded memory; the exact form is the oracle-checkable
    baseline."""
    return spark.table("events").groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 6).alias("p90"),
    ).orderBy("event_type")


_CUMSUM_SQL = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events
ORDER BY user_id, event_id
"""


@query("cumulative_user_value", oracle=_CUMSUM_SQL)
def cumulative_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per user with an explicit ROWS frame — deterministic
    tie-break (ts, event_id) so both engines accumulate in the same order."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spark.table("events")
        .select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


_ABOVE_AVG_SQL = """
SELECT p_partkey, p_name, p_brand,
       ROUND(p_retailprice, 2) AS price
FROM part p
WHERE p_retailprice > (
  SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
ORDER BY p_partkey
"""


@query("above_brand_avg_price", oracle=_ABOVE_AVG_SQL)
def above_brand_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join, so the 'per-row subquery' is really one pass."""
    return spark.sql(_ABOVE_AVG_SQL)


_DISTINCT_AGG_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS distinct_users,
       COUNT(*) AS events
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("distinct_users_by_type", oracle=_DISTINCT_AGG_SQL)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (expand + two-phase in Spark). At 100 TB swap
    approx_count_distinct (HLL) for the exact form when ±2%% suffices —
    same plan minus the expand."""
    return spark.table("events").groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("events"),
    ).orderBy("event_type")


_ORDERS_DIST_SQL = """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_orders
"""


@query("customer_order_distribution", oracle=_ORDERS_DIST_SQL)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join preserving zero-order customers, then a
    distribution over the counts (two cheap aggregations, one join)."""
    c = spark.table("customer")
    o = spark.table("orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


def _ivf_trained_oracle(k: int, n_queries: int, kc: int, n_probe: int, dim: int) -> str:
    # the IVF probe chain of _ivf_oracle with `cent` replaced by the
    # k-means-trained c1 centroids (rounded per round, so both engines
    # hold bit-identical quantizers)
    cos_vc = _VEC.cosine_null("vec", "cvec", "duck")
    cos_qc = _VEC.cosine("q_vec", "c_vec", "duck")
    return f"""
WITH {_kmeans_c1_ctes(kc, dim)},
corpus_aff AS (
  SELECT vec_id AS neighbor_id, vec, cid,
         coalesce(ROUND({cos_vc}, 6), -2.0) AS aff
  FROM v, (SELECT cid, cvec FROM c1) cent(cid, cvec)
),
corpus_b AS (
  SELECT neighbor_id, vec AS c_vec, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY aff DESC, cid) AS r
    FROM corpus_aff
  ) WHERE r <= 1
),
q_aff AS (
  SELECT vec_id AS query_id, vec, cid,
         coalesce(ROUND({cos_vc}, 6), -2.0) AS aff
  FROM (SELECT vec_id, vec FROM v WHERE vec_id < {n_queries}) q,
       (SELECT cid, cvec FROM c1) cent(cid, cvec)
),
q_b AS (
  SELECT query_id, vec AS q_vec, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY aff DESC, cid) AS r
    FROM q_aff
  ) WHERE r <= {n_probe}
),
scored AS (
  SELECT DISTINCT query_id, neighbor_id, ROUND({cos_qc}, 6) AS cosine
  FROM q_b JOIN corpus_b USING (cid)
  WHERE query_id != neighbor_id
)
{top_k_sql("scored", k)}
"""


@query("embedding_ann_ivf", oracle=_ivf_trained_oracle(5, 10, 16, 4, 64))
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN (inverted-file coarse quantizer): corpus bucketed
    by nearest centroid map-side; each query probes its 4 nearest
    centroids' buckets only.

    Scale path vs brute force: the corpus never shuffles by vector —
    assignment is a broadcast argmin over C centroids, search is an
    equi-join on centroid id, cost ~ n_probe/C of exact. The coarse
    quantizer is the library default: TRAINED one-round k-means (k=16),
    deterministic so the oracle replays training and search in one SQL."""
    from dawis_spark.operators.similarity import ivf_ann_topk

    emb = spark.table("embeddings")
    return ivf_ann_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_centroids=16,
        n_probe=4,
    ).orderBy("query_id", "rank")


@query("embedding_ann_ivf_trained", oracle=_ivf_trained_oracle(5, 10, 8, 3, 64))
def embedding_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF pipeline composed end to end: train the coarse
    quantizer with one k-means round (k=8), then probe-search with the
    TRAINED centroids through ivf_ann_topk's ``centroids=`` parameter —
    the production path (FAISS: train quantizer offline, search online),
    staying fully lazy on the corpus side. The oracle replays training
    AND search in one SQL; per-round centroid rounding keeps both
    engines' quantizers bit-identical."""
    from dawis_spark.operators.similarity import ivf_ann_topk, train_kmeans

    emb = spark.table("embeddings")
    cents = train_kmeans(emb, "vec_id", "embedding", k=8, iterations=1)
    return ivf_ann_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_probe=3,
        centroids=cents,
    ).orderBy("query_id", "rank")


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name != n2.n_name
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q7_nation_trade", oracle=_Q7_SQL)
def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-role dimension (nation joined twice under
    different aliases) + year extraction. The nation dim broadcasts for
    both roles; the selective IN filters prune before the fact join."""
    return spark.sql(_Q7_SQL)


_Q12_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished,
       CAST(SUM(CASE WHEN o_orderstatus != 'F' THEN 1 ELSE 0 END) AS BIGINT) AS open_or_partial
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q12_priority_buckets", oracle=_Q12_SQL)
def q12_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional-sum bucketing after a fact-fact join;
    the CASE aggregation is map-side partial, one shuffle on priority."""
    return spark.sql(_Q12_SQL)


_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("q13_customer_distribution", oracle=_Q13_SQL)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (the one spine query previously absent): left outer
    join with a predicate inside the ON clause (customers keep their row
    even when every order is excluded), per-customer COUNT of a nullable
    key (counts 0, not 1, for the all-null group), then a second
    aggregation over the counts. Two shuffles total — c_custkey, then
    c_count — both map-side partial; the outer join preserves the
    customer side so no customer is lost to the filter.
    Reference parity: the dedup/alerting configs count per-entity matches
    including empty groups (duplicate_content.py groupby semantics)."""
    return spark.sql(_Q13_SQL)


_Q14_SQL = """
SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'ECONOMY'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS economy_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
"""


@query("q14_category_share", oracle=_Q14_SQL)
def q14_category_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: category revenue share — a single global aggregate
    with a broadcast dim join; answers in one pass at any scale."""
    return spark.sql(_Q14_SQL)


_Q19_SQL = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


@query("q19_disjunctive_filter", oracle=_Q19_SQL)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    factors the common join key and pushes the per-side conjuncts into
    each scan (the part of a disjunct that mentions only one table)."""
    return spark.sql(_Q19_SQL)


_Q22_SQL = """
SELECT cntrycode,
       COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM (
  SELECT substring(c_name, 10, 2) AS cntrycode, c_acctbal
  FROM customer
  WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


@query("q22_idle_customers", oracle=_Q22_SQL)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (computed once, broadcast as a
    literal) + windowed anti join (no orders since 2000) + substring
    bucketing."""
    return spark.sql(_Q22_SQL)


_FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT
  CAST(COUNT(first_view) AS BIGINT) AS viewed,
  CAST(SUM(CASE WHEN first_click > first_view THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
  CAST(SUM(CASE WHEN first_purchase > first_click AND first_click > first_view
                THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_funnel
FROM firsts
"""


@query("funnel_view_click_purchase", oracle=_FUNNEL_SQL)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel via conditional-MIN first-touch times —
    one shuffle on user_id, no self-joins (the naive 3-way self-join
    formulation shuffles the events table three times)."""
    return spark.sql(_FUNNEL_SQL)


_RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT c.cohort_week,
       CAST(datediff(a.active_week, c.cohort_week) / 7 AS BIGINT) AS week_offset,
       COUNT(*) AS active_users
FROM cohorts c JOIN activity a ON c.user_id = a.user_id
GROUP BY c.cohort_week, week_offset
ORDER BY c.cohort_week, week_offset
"""

_RETENTION_ORACLE = """
WITH cohorts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
       COUNT(*) AS active_users
FROM cohorts c JOIN activity a ON c.user_id = a.user_id
GROUP BY c.cohort_week, week_offset
ORDER BY c.cohort_week, week_offset
"""


@query("weekly_retention_cohorts", oracle=_RETENTION_ORACLE)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: first-seen week x active week offsets. Both CTEs
    shuffle on user_id once and the join reuses that key; week arithmetic
    differs by dialect (datediff vs date_diff) so the two renderings are
    kept side by side."""
    return spark.sql(_RETENTION_SQL)


_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT e.*, time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE AS window_start
  FROM events e, (VALUES (0), (1)) k(k)
)
SELECT window_start, event_type, COUNT(*) AS n
FROM expanded
WHERE ts >= window_start AND ts < window_start + INTERVAL 60 MINUTE
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


@query("sliding_window_agg", oracle=_SLIDING_ORACLE)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) windows: 1-hour windows every 30 minutes via
    ``F.window(ts, '1 hour', '30 minutes')`` — each event lands in 2
    windows. The oracle expands the window membership explicitly (event x
    slide-offset), which is exactly Spark's internal expansion; the
    aggregation stays one shuffle on (window, key)."""
    return (
        spark.table("events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


def _emb_neardup_oracle(
    threshold: float, cap: int = 100, n_planes: int = 4, dim: int = 64
) -> str:
    """Scale-invariant replay of the blocked/capped routing: label blocks
    up to ``cap`` rows pair exactly; hot blocks replay the block-scoped
    sign-LSH route (same deterministic hyperplanes as the Spark side), so
    the oracle matches at any scale factor. Norms precomputed once per
    vector (same arithmetic as the Spark plan: dot / (sqrt(nsq_a) *
    sqrt(nsq_b)) in identical order)."""
    from dawis_spark.operators.similarity import lsh_bucket_expr

    dot = _VEC.dot("a.vec", "b.vec", "duck")
    nsq = _VEC.norm_sq("embedding", "duck")
    bucket = lsh_bucket_expr(n_planes, dim, "duck")
    return f"""
WITH v AS (SELECT vec_id, label, embedding AS vec, sqrt({nsq}) AS nrm FROM embeddings),
sizes AS (SELECT label, COUNT(*) AS bn FROM v GROUP BY label),
big AS (
  SELECT v.label, v.vec_id, v.vec, {bucket} AS bucket
  FROM v JOIN sizes s ON s.label = v.label AND s.bn > {cap}
),
pairs AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b, 'exact' AS pair_method
  FROM v a
  JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN sizes s ON s.label = a.label AND s.bn <= {cap}
  UNION ALL
  SELECT DISTINCT x.label, x.vec_id AS id_a, y.vec_id AS id_b, 'lsh' AS pair_method
  FROM big x
  JOIN big y ON x.label = y.label AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT p.label AS label, p.id_a, p.id_b,
       ROUND({dot} / (a.nrm * b.nrm), 6) AS cosine,
       p.pair_method
FROM pairs p
JOIN v a ON a.vec_id = p.id_a
JOIN v b ON b.vec_id = p.id_b
WHERE ROUND({dot} / (a.nrm * b.nrm), 6) >= {threshold}
ORDER BY label, id_a, id_b
"""


@query("embedding_near_dups", oracle=_emb_neardup_oracle(0.3))
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.3 — threshold
    tuned to the synthetic corpus where within-label cosine tops at ~0.47;
    real embedding corpora use ~0.95), blocked by
    label — the dedup-family entry for semantic near-dups.

    Scale: blocking (label / cluster id / LSH bucket) bounds the pair
    count exactly like the n-gram variant; vectors join the bare id-pairs
    via shuffle-hash (never broadcast — the vector relation is
    corpus-sized) and norms are hoisted so each magnitude is computed
    once. The per-block pair budget (max_block_rows=100) routes hot
    blocks through block-scoped sign-LSH instead of O(n²) all-pairs: at
    sf0.01 every label block (44-59 rows) stays exact; at sf0.1 (~200-row
    blocks) the same query exercises the approximate scale path. The
    oracle replays the SAME size-based routing, so parity holds at
    either scale."""
    from dawis_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        spark.table("embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        block_col="label",
        threshold=0.3,
        max_block_rows=100,
    ).orderBy("label", "id_a", "id_b")


# ---------------------------------------------------------------------------
# PSI v2 metric extraction (S4: reference google_pagespeed.py:345-487)
# ---------------------------------------------------------------------------

# One spec drives BOTH sides: the Spark path synthesizes a PSI JSON body
# from doc_id with these integer formulas, runs the real from_json
# extraction (modules/google_pagespeed.py), and flattens the nested
# record; the oracle computes the same planted values directly. The
# round-trip (synthesize -> parse -> navigate -> validate) must land
# exactly on the planted ground truth. All arithmetic is integer-only so
# the JSON strings and the oracle expressions agree to the last bit.

_PSI_NV = {  # labdata numericValue formulas (JSON integers)
    "cls": "(doc_id % 50)",
    "lcp": "(1000 + doc_id % 700)",
    "fcp": "(500 + doc_id % 300)",
    "tbt": "(doc_id % 400)",
    "mpfid": "(doc_id % 250)",
    "ttfb": "(80 + doc_id % 120)",
}
_PSI_SCORES = {  # audit score formulas (JSON 0/1 integers)
    "serverResponseTime": "(doc_id % 2)",
    "usesTextCompression": "((doc_id + 1) % 2)",
    "usesLongCacheTtl": "(doc_id % 2)",
    "domSize": "((doc_id + 1) % 2)",
    "offscreenImages": "(doc_id % 2)",
    "usesOptimizedImages": "((doc_id + 1) % 2)",
    "usesResponsiveImages": "(doc_id % 2)",
    "renderBlockingResources": "(doc_id % 2)",
    "bootupTime": "((doc_id + 1) % 2)",
    "mainthreadWorkBreakdown": "(doc_id % 2)",
}
_PSI_SCORE_AUDIT_NAMES = {
    "serverResponseTime": "server-response-time",
    "usesTextCompression": "uses-text-compression",
    "usesLongCacheTtl": "uses-long-cache-ttl",
    "domSize": "dom-size",
    "offscreenImages": "offscreen-images",
    "usesOptimizedImages": "uses-optimized-images",
    "usesResponsiveImages": "uses-responsive-images",
    "renderBlockingResources": "render-blocking-resources",
    "bootupTime": "bootup-time",
    "mainthreadWorkBreakdown": "mainthread-work-breakdown",
}
_PSI_NV_AUDIT_NAMES = {
    "cls": "cumulative-layout-shift",
    "lcp": "largest-contentful-paint",
    "fcp": "first-contentful-paint",
    "tbt": "total-blocking-time",
    "mpfid": "max-potential-fid",
    "ttfb": "server-response-time",
}
_PSI_CRUX_PCT = {  # percentile formulas; offset o distinguishes origin vs page
    "cls": lambda o: f"(10 + (doc_id + {o}) % 90)",
    "lcp": lambda o: f"(1500 + (doc_id + {o}) % 1000)",
    "fcp": lambda o: f"(900 + (doc_id + {o}) % 500)",
    "fid": lambda o: f"(10 + (doc_id + {o}) % 100)",
}
_PSI_CRUX_KEYS = {
    "cls": "CUMULATIVE_LAYOUT_SHIFT_SCORE",
    "lcp": "LARGEST_CONTENTFUL_PAINT_MS",
    "fcp": "FIRST_CONTENTFUL_PAINT_MS",
    "fid": "FIRST_INPUT_DELAY_MS",
}
_PSI_PROPS = {  # fixed Good/Medium/Bad proportions per metric (JSON literals)
    "cls": ("0.5", "0.3", "0.2"),
    "lcp": ("0.6", "0.25", "0.15"),
    "fcp": ("0.7", "0.2", "0.1"),
    "fid": ("0.8", "0.15", "0.05"),
}
_PSI_DAY = "lpad(cast(doc_id % 28 + 1 as string), 2, '0')"
_PSI_STATUS = "(200 + (doc_id % 2) * 104)"
_PSI_PERF = "concat('0.', lpad(cast(doc_id % 100 as string), 2, '0'))"


def _psi_crux_json(offset: int, fallback: bool) -> str:
    """Spark SQL string expr for one CrUX loading-experience JSON record."""
    metrics = []
    for m, key in _PSI_CRUX_KEYS.items():
        pct = _PSI_CRUX_PCT[m](offset)
        g, md, b = _PSI_PROPS[m]
        metrics.append(
            f"'\"{key}\":{{\"percentile\":', cast({pct} as string), "
            f"',\"distributions\":[{{\"proportion\":{g}}},"
            f"{{\"proportion\":{md}}},{{\"proportion\":{b}}}]}}'"
        )
    inner = ", ',', ".join(metrics)
    fb = ',\"origin_fallback\":true' if fallback else ""
    return f"concat('{{\"metrics\":{{', {inner}, '}}{fb}}}')"


def _psi_body_expr() -> str:
    """Spark SQL expr: synthetic PSI response body keyed on doc_id."""
    audits = []
    for m, audit in _PSI_NV_AUDIT_NAMES.items():
        if audit == "server-response-time":
            continue  # rendered below with both leaves
        audits.append(
            f"'\"{audit}\":{{\"numericValue\":', cast({_PSI_NV[m]} as string), '}}'"
        )
    audits.append(
        f"'\"server-response-time\":{{\"numericValue\":', "
        f"cast({_PSI_NV['ttfb']} as string), "
        f"',\"score\":', cast({_PSI_SCORES['serverResponseTime']} as string), '}}'"
    )
    for m, audit in _PSI_SCORE_AUDIT_NAMES.items():
        if audit == "server-response-time":
            continue
        audits.append(
            f"'\"{audit}\":{{\"score\":', cast({_PSI_SCORES[m]} as string), '}}'"
        )
    audits.append(
        f"'\"network-requests\":{{\"details\":{{\"items\":[{{\"statusCode\":', "
        f"cast({_PSI_STATUS} as string), '}}]}}}}'"
    )
    audits_sql = ", ',', ".join(audits)
    le = (
        "case when doc_id % 3 = 0 then '' "
        f"when doc_id % 5 = 0 then concat(',\"loadingExperience\":', {_psi_crux_json(7, True)}) "
        f"else concat(',\"loadingExperience\":', {_psi_crux_json(7, False)}) end"
    )
    return (
        "concat("
        f"'{{\"analysisUTCTimestamp\":\"2026-03-', {_PSI_DAY}, 'T08:15:30.000Z\",', "
        f"'\"lighthouseResult\":{{\"audits\":{{', {audits_sql}, '}}', "
        f"',\"categories\":{{\"performance\":{{\"score\":', {_PSI_PERF}, '}}}}}},', "
        f"'\"originLoadingExperience\":', {_psi_crux_json(0, False)}, "
        f"{le}, "
        "'}')"
    )


def _psi_oracle() -> str:
    """Direct-arithmetic oracle: the planted ground truth, no JSON."""
    cols = [
        "'https://ex.com/doc/' || CAST(doc_id AS VARCHAR) AS url",
        "CASE WHEN doc_id % 2 = 0 THEN 'desktop' ELSE 'mobile' END AS strategy",
        f"CAST('2026-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')"
        f" || ' 08:15:30' AS TIMESTAMP) AS date",
        f"CAST({_PSI_STATUS} AS INTEGER) AS statusCode",
        "source AS cluster",
    ]
    for m in _PSI_NV:
        cols.append(f"CAST({_PSI_NV[m]} AS DOUBLE) AS lab_{m}")
    cols.append("CAST(doc_id % 100 AS DOUBLE) / 100 AS lab_performanceScore")
    for m in _PSI_SCORES:
        cols.append(f"CAST({_PSI_SCORES[m]} AS DOUBLE) AS lab_{m}")
    for m in _PSI_CRUX_KEYS:
        cols.append(f"CAST({_PSI_CRUX_PCT[m](0)} AS BIGINT) AS ole_{m}")
        for band, lit in zip(("Good", "Medium", "Bad"), _PSI_PROPS[m]):
            cols.append(f"CAST({lit} AS DOUBLE) AS ole_{m}{band}")
    le_present = "(doc_id % 3 != 0 AND doc_id % 5 != 0)"
    for m in _PSI_CRUX_KEYS:
        cols.append(
            f"CASE WHEN {le_present} THEN CAST({_PSI_CRUX_PCT[m](7)} AS BIGINT) END AS le_{m}"
        )
        for band, lit in zip(("Good", "Medium", "Bad"), _PSI_PROPS[m]):
            cols.append(
                f"CASE WHEN {le_present} THEN CAST({lit} AS DOUBLE) END AS le_{m}{band}"
            )
    sel = ",\n  ".join(cols)
    return f"SELECT\n  {sel}\nFROM documents\nORDER BY CAST(doc_id AS VARCHAR)"


@query("psi_metric_extraction", oracle=_psi_oracle())
def psi_metric_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageSpeed v2 extraction (S4) end-to-end: synthesize a PSI response
    body per document, run the real pruned-schema from_json extraction +
    validation (modules/google_pagespeed.py), flatten the nested record.

    Scale: the body never leaves the executor — synthesis, parse and
    struct navigation are one map-side codegen stage with zero exchanges.
    The presentation ORDER BY runs over the NARROW (url, cluster,
    strategy) projection and the synth+parse stack sits ABOVE the sort:
    a range exchange samples its entire child to pick partition bounds,
    so with the parse below the sort every pass paid the synthesis and
    from_json twice (r16, guide §7.2 plan reading; measured 1.9 ->
    0.98 s warm, rows and order bit-identical — narrow operators above
    an ordered exchange preserve partition order). from_json
    deserializes only the ~50 navigated paths of the megabyte
    response."""
    from dawis_spark.modules.google_pagespeed import psi_facts
    from dawis_spark.schemas import LABDATA_STRUCT, LOADING_EXPERIENCE_STRUCT

    docs = (
        spark.table("documents")
        .select(
            F.concat(
                F.lit("https://ex.com/doc/"), F.col("doc_id").cast("string")
            ).alias("url"),
            F.col("source").alias("cluster"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("desktop"))
            .otherwise(F.lit("mobile"))
            .alias("strategy"),
            F.col("doc_id"),
        )
        .orderBy("url")
        .withColumn("body", F.expr(_psi_body_expr()))
    )
    facts = psi_facts(docs)
    flat = [
        F.col("url"),
        F.col("strategy"),
        F.col("date"),
        F.col("statusCode"),
        F.col("cluster"),
    ]
    for f in LABDATA_STRUCT.fields:
        flat.append(F.col("labdata")[f.name].alias(f"lab_{f.name}"))
    for f in LOADING_EXPERIENCE_STRUCT.fields:
        flat.append(
            F.col("originLoadingExperience")[f.name].alias(f"ole_{f.name}")
        )
    for f in LOADING_EXPERIENCE_STRUCT.fields:
        flat.append(F.col("loadingExperience")[f.name].alias(f"le_{f.name}"))
    # ordered by url via the narrow sort below the parse (verified
    # row-for-row identical to sorting here; a trailing orderBy would
    # re-sample the full parse chain for range bounds)
    return facts.select(*flat)


# ---------------------------------------------------------------------------
# TPC-H breadth: EXISTS/anti shapes, correlated scalars, market share,
# top-k revenue — the relational shapes a warehouse engine must plan well
# ---------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q4_order_priority", oracle=_Q4_SQL)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS -> left-semi): order counts by priority for
    orders with at least one returned line. (The canonical Q4 predicate is
    l_commitdate < l_receiptdate; those columns don't exist in the
    testdata, so the returned-line predicate keeps the identical plan
    shape.)

    Scale: the date filter prunes orders at the scan; the EXISTS becomes
    ONE left-semi hash join on l_orderkey (no row duplication before the
    aggregate); the groupBy key space is 5 priorities, so the final
    shuffle is negligible.
    """
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    returned = spark.table("lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", oracle=_Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate. The whole query is one
    map-side pass: every predicate pushes to the parquet scan (min/max
    row-group pruning on l_shipdate), the SUM partial-aggregates per
    partition, and a single scalar crosses the wire."""
    return spark.sql(_Q6_SQL)


_Q8_SQL = """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / SUM(volume), 6)
         AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
) t
GROUP BY o_year
ORDER BY o_year
"""


@query("q8_market_share", oracle=_Q8_SQL)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional volume per year.
    Two-role nation dim (customer side filters through region; supplier
    side labels the share) — both roles plus part/customer/supplier/
    region broadcast under AQE, so the lineitem fact never shuffles for
    a dimension; the only exchange is the 7-group year aggregate."""
    return spark.sql(_Q8_SQL)


_Q9_SQL = """
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18, 2))
           * (1 - CAST(l_discount AS DECIMAL(4, 2))) AS amount
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN part     ON p_partkey = l_partkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) t
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("q9_product_profit", oracle=_Q9_SQL)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation-per-year profit over a part-name
    pattern. (The canonical Q9 subtracts ps_supplycost; the testdata has
    no partsupp table, so amount is the discounted price — same joins,
    same plan.) The LIKE filter prunes part before the fact join; all
    dims broadcast; partial aggregation runs map-side before the
    (nation x year) shuffle."""
    return spark.sql(_Q9_SQL)


_Q10_SQL = """
SELECT c_custkey, c_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", oracle=_Q10_SQL)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue in a quarter. Both
    selective filters push to the scans before the orders-lineitem join;
    nation broadcasts; the final top-k is a TakeOrdered over the grouped
    result, not a full sort."""
    return spark.sql(_Q10_SQL)


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@query("q15_top_supplier", oracle=_Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the max quarterly revenue. The
    revenue CTE aggregates once; the scalar-max subquery reuses it (one
    extra reduce to a single row, broadcast back as a filter) — no
    window, no second scan of lineitem. Rounding to 2 digits on BOTH the
    CTE and the comparison keeps the float equality engine-portable."""
    return spark.sql(_Q15_SQL)


_Q17_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l_partkey
  )
"""


@query("q17_small_quantity", oracle=_Q17_SQL)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar subquery (per-part average quantity).
    Catalyst decorrelates it into an aggregate-then-join on l_partkey —
    the same shape as above_brand_avg_price — so the 'per row subquery'
    costs one extra aggregation over the brand's lines, not N scans."""
    return spark.sql(_Q17_SQL)


_Q18_SQL = """
SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 120
)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("q18_large_orders", oracle=_Q18_SQL)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders. The IN-subquery is an aggregate
    producing bare orderkeys -> left-semi join (key-only build side, far
    smaller than the fact); the outer aggregate then runs only on
    surviving orders. Top-100 by price is TakeOrdered."""
    return spark.sql(_Q18_SQL)


_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
JOIN nation    ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n_name = 'NATION_1'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@query("q21_sole_blame_supplier", oracle=_Q21_SQL)
def q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for a failed
    multi-supplier order (EXISTS another supplier's line, NOT EXISTS
    another returned line — return flag stands in for the receipt-delay
    predicate absent from the testdata). Catalyst plans the EXISTS as a
    left-semi and the NOT EXISTS as a left-anti join, both on
    l_orderkey; the nation filter prunes supplier before the fact join;
    top-10 is TakeOrdered."""
    return spark.sql(_Q21_SQL)


_RANGE_JOIN_ORACLE = """
SELECT a.user_id AS user_id, a.event_id AS event_id, a.ts AS ts,
       CAST(COUNT(b.event_id) AS BIGINT) AS n_following
FROM events a LEFT JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
GROUP BY a.user_id, a.event_id, a.ts
ORDER BY user_id, event_id
"""


@query("events_following_1h", oracle=_RANGE_JOIN_ORACLE)
def events_following_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range self-join: per event, the count of same-user events in
    the following hour (attribution-window shape).

    Scale: a naive theta-join here is a BroadcastNestedLoopJoin — O(N²)
    comparisons and a corpus broadcast. following_count bin-buckets time
    into Δ-wide bins and equi-joins on (user_id, bin), so the only
    shuffle is a hash join keyed (user, hour-bin) and the per-bucket
    fan-out is bounded by each user's event density, not corpus size
    (operators/rangejoin.py)."""
    from dawis_spark.operators.rangejoin import following_count

    e = spark.table("events").select("user_id", "event_id", "ts")
    return following_count(
        e, ["user_id"], "event_id", "ts", 3600
    ).select("user_id", "event_id", "ts", "n_following").orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Corpus-level training-data ops: vocabulary, packing, decontamination
# ---------------------------------------------------------------------------

def _vocab_oracle(k: int) -> str:
    toks = _TXT.tokens("text", "duck")
    return f"""
WITH t AS (SELECT doc_id, unnest(list_distinct({toks})) AS token FROM documents)
SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM t GROUP BY token
ORDER BY doc_freq DESC, token
LIMIT {k}
"""


@query("vocab_top_tokens", oracle=_vocab_oracle(50))
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-50 tokens by document frequency — the
    input to BPE vocab pruning / idf weighting. Scale: the shuffle
    carries (token, partial count) — vocab-sized, not corpus-sized; the
    top-k is TakeOrdered (operators/corpus.py)."""
    from dawis_spark.operators.corpus import token_document_frequency

    return token_document_frequency(
        spark.table("documents"), "doc_id", "text", top_k=50
    )


def _packing_oracle(budget: int) -> str:
    toks = _TXT.tokens("text", "duck")
    return f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
)
SELECT source, doc_id, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens) / {budget}) AS BIGINT) AS shard_id
FROM t ORDER BY source, doc_id
"""


@query("doc_packing_shards", oracle=_packing_oracle(4096))
def doc_packing_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential document packing into 4096-token shards, scoped
    per source — context-window filling for training shards. Packing is
    inherently sequential, so it's windowed per partition key (the
    streams parallelize across sources); never a global order
    (operators/corpus.py)."""
    from dawis_spark.operators.corpus import pack_documents

    return pack_documents(
        spark.table("documents"), "doc_id", "text", "source", 4096
    ).orderBy("source", "doc_id")


def _contamination_oracle(k: int) -> str:
    sh = _TXT.shingle_hashes("text", k, "duck")
    return f"""
WITH h AS (SELECT source, doc_id, unnest({sh}) AS sh FROM documents),
bench AS (SELECT DISTINCT sh FROM h WHERE source = 'src0'),
corpus AS (SELECT doc_id, sh FROM h WHERE source <> 'src0')
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_shingles
FROM corpus JOIN bench USING (sh)
GROUP BY doc_id ORDER BY doc_id
"""


@query("benchmark_contamination", oracle=_contamination_oracle(_SHINGLE_K))
def benchmark_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (GPT-3 appendix C shape): corpus docs
    sharing >= 1 word-3-gram with the 'benchmark' slice (source src0).
    Scale: both sides reduce to (id, 8-byte hash) map-side; one hash
    join on the hash — document bodies never shuffle
    (operators/corpus.py)."""
    from dawis_spark.operators.corpus import benchmark_contamination

    docs = spark.table("documents")
    return benchmark_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
        shingle_k=_SHINGLE_K,
    ).orderBy("doc_id")


def _split_oracle() -> str:
    h = _TXT.char_hash("concat('split', cast(doc_id as varchar))", "duck")
    return f"""
WITH b AS (SELECT source, doc_id, ({h}) % 100 AS bucket FROM documents)
SELECT source, doc_id,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY source, doc_id
"""


@query("dataset_split", oracle=_split_oracle())
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment via salted content
    hash — reproducible across engines and stable under corpus growth
    (a doc's split never changes when others are added). Map-side only
    (operators/corpus.hash_split)."""
    from dawis_spark.operators.corpus import hash_split

    return hash_split(
        spark.table("documents").select("source", "doc_id"),
        "doc_id",
        {"train": 0.90, "val": 0.05, "test": 0.05},  # cumulative edges 90/95/100
    ).orderBy("source", "doc_id")


def _stratified_oracle(n: int) -> str:
    h = _TXT.char_hash("concat('sample', cast(doc_id as varchar))", "duck")
    return f"""
WITH r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY ({h}), doc_id) AS rk
  FROM documents
)
SELECT source, doc_id FROM r WHERE rk <= {n} ORDER BY source, doc_id
"""


@query("stratified_sample_docs", oracle=_stratified_oracle(5))
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-source sample ranked by salted hash — the
    reproducible stand-in for per-stratum random sampling; one window
    pass, no per-group collect (operators/corpus.stratified_sample)."""
    from dawis_spark.operators.corpus import stratified_sample

    return stratified_sample(
        spark.table("documents").select("source", "doc_id"), "source", "doc_id", 5
    ).orderBy("source", "doc_id")


def _clusters_cte(threshold: float) -> str:
    """WITH-prefix computing ``cl(doc_id, cluster_id)`` — the recursive
    transitive closure of the LSH near-dup pair graph (shared by the
    cluster and keep-canonical oracles)."""
    pairs_sql = _lsh_pairs_oracle(threshold).strip().rstrip()
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b AS src, id_a AS dst FROM p
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
),
cl AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id
  FROM reach GROUP BY src
)
"""


def _clusters_oracle(threshold: float) -> str:
    return _clusters_cte(threshold) + "SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"


@query("duplicate_clusters", oracle=_clusters_oracle(0.2))
def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup capstone: near-dup PAIRS (MinHash+LSH, Jaccard >= 0.2)
    -> duplicate CLUSTERS via connected components (min-label
    propagation), so keep-one-per-cluster dedup has its group key.

    Scale: each propagation round is one edges-x-labels join + groupBy
    on node id (same partitioning, AQE reuses the exchange); duplicate
    clusters are near-cliques so rounds ~ diameter ~ 3. The oracle walks
    the same graph with a recursive CTE (operators/dedup.py
    connected_components)."""
    from dawis_spark.operators.dedup import connected_components

    # persisted: connected_components reads the pair relation twice
    # (both edge directions) — one evaluation of the LSH pipeline, not two
    pairs = _doc_near_dups(spark).persist()
    return (
        connected_components(pairs)
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


def _keep_canonical_oracle(threshold: float) -> str:
    return _clusters_cte(threshold) + """
SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
WHERE cl.cluster_id IS NULL OR d.doc_id = cl.cluster_id
ORDER BY d.doc_id
"""


@query("dedup_keep_canonical", oracle=_keep_canonical_oracle(0.2))
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DEDUP: pairs (MinHash+LSH) -> clusters
    (connected components) -> keep one doc per cluster (the min-id
    member, which IS the cluster label) plus all unclustered docs.
    This is the actual corpus-shrinking operation a training pipeline
    runs; duplicate_clusters is its diagnostic view.

    Scale: on top of the cluster pass, one id-keyed left join against a
    cluster relation orders smaller than the corpus (AQE broadcasts it
    when tiny) and a map-side survivor filter."""
    from dawis_spark.operators.dedup import connected_components, keep_one_per_cluster

    pairs = _doc_near_dups(spark).persist()
    clusters = connected_components(pairs)
    return keep_one_per_cluster(
        spark.table("documents"), clusters, "doc_id"
    ).orderBy("doc_id")


def _repetition_oracle(ngram_n: int) -> str:
    toks = _TXT.tokens("text", "duck")
    sh = _TXT.shingles("__toks", ngram_n, "duck")
    tok_sum = "SUM(CASE WHEN u LIKE 't:%' THEN c ELSE 0 END)"
    ng_sum = "SUM(CASE WHEN u LIKE 'g:%' THEN c ELSE 0 END)"
    return f"""
WITH base AS (SELECT doc_id, {toks} AS __toks FROM documents),
units AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(__toks, t -> 't:' || t),
    list_transform({sh}, s -> 'g:' || s))) AS u
  FROM base
),
cnt AS (SELECT doc_id, u, count(*) AS c FROM units GROUP BY doc_id, u)
SELECT doc_id,
  CAST({tok_sum} AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(CASE WHEN u LIKE 't:%' AND c > 1 THEN c ELSE 0 END) AS DOUBLE)
        / GREATEST({tok_sum}, 1), 6) AS dup_token_frac,
  ROUND(CAST(MAX(CASE WHEN u LIKE 't:%' THEN c END) AS DOUBLE)
        / GREATEST({tok_sum}, 1), 6) AS top_token_frac,
  ROUND(CAST(SUM(CASE WHEN u LIKE 'g:%' AND c > 1 THEN c ELSE 0 END) AS DOUBLE)
        / GREATEST({ng_sum}, 1), 6) AS dup_ngram_frac
FROM cnt GROUP BY doc_id ORDER BY doc_id
"""


@query("repetition_signals", oracle=_repetition_oracle(2))
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters (dup-token
    fraction, top-token weight, dup-2-gram fraction) over the documents
    table — the signals MassiveText-class pipelines threshold on before
    training (operators/textstats.repetition_stats)."""
    # sort below the (map-side since r16) repetition folds — the
    # psi_metric_extraction pattern
    return _TS.repetition_stats(
        spark.table("documents").orderBy("doc_id"), "doc_id", "text", ngram_n=2
    )


_LINED = "replace(replace(text, ' value ', '.' || chr(10)), ' table ', chr(10))"


def _line_quality_oracle(min_words: int) -> str:
    stats = _TS.line_stats_sql("ltext", "duckdb", min_words)
    cols = ",\n  ".join(
        f"CAST({e} AS BIGINT) AS {k}" for k, e in stats.items()
    )
    return f"""
WITH lined AS (SELECT doc_id, {_LINED} AS ltext FROM documents),
counted AS (SELECT doc_id, {cols} FROM lined)
SELECT doc_id, n_lines, n_short_lines, n_unpunct_lines, n_kept_lines,
  ROUND(CAST(n_kept_lines AS DOUBLE) / GREATEST(n_lines, 1), 6) AS kept_line_frac
FROM counted ORDER BY doc_id
"""


@query("c4_line_quality", oracle=_line_quality_oracle(3))
def c4_line_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-filter counters (Raffel et al. 2020 §2.2: drop lines
    without terminal punctuation or with < 3 words). The corpus text is
    single-line, so lines are derived deterministically first (sentence
    breaks at ' value ', bare breaks at ' table ') — same derivation in
    the oracle. Entirely map-side array expressions
    (operators/textstats.line_quality)."""
    # sort below the line-stat folds (the psi_metric_extraction pattern)
    lined = (
        spark.table("documents")
        .orderBy("doc_id")
        .select("doc_id", F.expr(_LINED).alias("ltext"))
    )
    return _TS.line_quality(lined, "doc_id", "ltext", min_words=3)


def _tfidf_oracle(k: int) -> str:
    toks = _TXT.tokens("text", "duck")
    return f"""
WITH tk AS (SELECT doc_id, unnest({toks}) AS token FROM documents),
tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM tk GROUP BY doc_id, token),
dfq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df_t FROM tf GROUP BY token),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         ROUND(tf * (ln((n_docs + 1) / (df_t + 1)) + 1), 6) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS term_rank
  FROM scored
)
SELECT doc_id, token, tfidf, term_rank FROM ranked
WHERE term_rank <= {k} ORDER BY doc_id, term_rank
"""


@query("tfidf_top_terms", oracle=_tfidf_oracle(3))
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smooth tf-idf — the
    vocabulary/df relation is vocab-sized, N rides along as a broadcast
    1-row aggregate, and the top-k is a per-document window, never a
    global sort (operators/corpus.tfidf_top_terms)."""
    from dawis_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(
        spark.table("documents"), "doc_id", "text", k=3
    ).orderBy("doc_id", "term_rank")


_BM25_TERMS = ("spark", "hash", "window")


def _bm25_oracle(k1: float, b: float, top_n: int) -> str:
    return f"""
{bm25_ctes(_BM25_TERMS, k1, b, "scored")}
SELECT doc_id, ROUND(SUM(contrib), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {top_n}
"""


@query("bm25_search", oracle=_bm25_oracle(1.2, 0.75, 10))
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a bag-of-words query. The explode
    is filtered to the query terms BEFORE any shuffle — the inverted-index
    access pattern, corpus-size-independent for selective terms
    (operators/corpus.bm25_scores)."""
    from dawis_spark.operators.corpus import bm25_scores

    return bm25_scores(
        spark.table("documents"),
        "doc_id",
        "text",
        list(_BM25_TERMS),
        k1=1.2,
        b=0.75,
        top_n=10,
    )


_CDC_K = 4  # rolling-window width (tokens) for the boundary test
_CDC_MOD = 16  # boundary when window hash % 16 == 0 -> ~16-token chunks


def _cdc_cuts_expr(th: str, dialect: str) -> str:
    """Content-defined cut-point array over a BOUND token-hash array
    column ``th``: positions where the k-token rolling hash hits 0 mod
    _CDC_MOD, with 0 and len appended — bind this in its own projection
    (the _mixed_sql lesson: the chunk fold references it ~6 times)."""
    whs = _TXT.window_hash_structs(th, _CDC_K, dialect)
    if dialect == "spark":
        return (
            f"array_sort(array_distinct(concat(array(0),"
            f" transform(filter({whs}, s -> s.wh % {_CDC_MOD} = 0),"
            f" s -> s.pos + {_CDC_K}), array(size({th})))))"
        )
    return (
        f"list_sort(list_distinct(list_concat(list_concat([0],"
        f" list_transform(list_filter({whs}, s -> s.wh % {_CDC_MOD} = 0),"
        f" s -> s.pos + {_CDC_K})), [len({th})])))"
    )


def _cdc_chunks_expr(th: str, cuts: str, dialect: str) -> str:
    """Per-document CDC chunk array over BOUND ``th`` (token hashes)
    and ``cuts`` (cut points) columns: each chunk a struct (len, ch)
    with ch = the Horner-131 fold of its token hashes. The
    insertion-robust chunking (a one-token edit moves ONE boundary,
    so every other chunk hash survives — the property fixed-width
    chunking lacks and the reason storage dedup uses CDC)."""
    if dialect == "spark":
        return (
            f"case when size({th}) = 0 then"
            " array()"
            f" else transform(sequence(1, size({cuts}) - 1), i -> struct("
            f"{cuts}[i] - {cuts}[i - 1] as len,"
            f" aggregate(slice({th}, {cuts}[i - 1] + 1,"
            f" {cuts}[i] - {cuts}[i - 1]), cast(0 as bigint),"
            f" (h, x) -> (h * 131 + x) % {_TXT.MOD}) as ch)) end"
        )
    return (
        f"CASE WHEN len({th}) = 0 THEN [] ELSE"
        f" list_transform(range(1, len({cuts})), i -> {{"
        f"'len': {cuts}[i + 1] - {cuts}[i],"
        f" 'ch': list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" {th}[{cuts}[i] + 1:{cuts}[i + 1]]),"
        f" (h, x) -> (h * 131 + x) % {_TXT.MOD})}}) END"
    )


def _cdc_oracle() -> str:
    th = _TXT.token_hash_array("text", "duck")
    cuts = _cdc_cuts_expr("__th", "duck")
    chunks = _cdc_chunks_expr("__th", "__cuts", "duck")
    return f"""
WITH th0 AS (SELECT doc_id, source, {th} AS __th FROM documents),
th AS (SELECT doc_id, source, __th, {cuts} AS __cuts FROM th0),
ck AS (SELECT source, unnest({chunks}) AS c FROM th),
flat AS (SELECT source, c.len AS l, c.ch AS ch FROM ck)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_distinct_chunks,
       ROUND(1.0 - CAST(COUNT(DISTINCT ch) AS DOUBLE) / COUNT(*), 6)
         AS chunk_dup_ratio,
       ROUND(CAST(SUM(l) AS DOUBLE) / COUNT(*), 4) AS avg_chunk_tokens
FROM flat GROUP BY source ORDER BY source
"""


@query("cdc_chunk_dedup", oracle=_cdc_oracle())
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup profile per source: documents cut
    where a 4-token rolling hash hits 0 mod 16 (~16-token expected
    chunks), chunk identity = the exact Horner fold of its token
    hashes; reports chunk counts, the cross-document duplicate-chunk
    ratio, and mean chunk size. CDC is the insertion-robust half of
    the dedup family: line_dedup catches exact LINES and
    duplicated_spans fixed-width windows, but a one-token edit shifts
    every downstream fixed window while moving only ONE content-
    defined boundary — so the CDC dup ratio is the honest measure of
    template reuse across a source.

    Exactness: token hashes, window hashes, cut points, and chunk
    folds are all exact int64 mod-1e9+7 arithmetic (functions/text.py
    primitives) — identical both engines; two display divisions.

    Scale: everything up to the explode is per-row array math inside
    the scan (O(tokens x k) per doc); the only exchange carries
    (source, len, chunk-hash int64) — never text."""
    th = _TXT.token_hash_array("text", "spark")
    cuts = _cdc_cuts_expr("__th", "spark")
    chunks = _cdc_chunks_expr("__th", "__cuts", "spark")
    flat = (
        spark.table("documents")
        .selectExpr("doc_id", "source", f"{th} AS __th")
        .selectExpr("source", "__th", f"{cuts} AS __cuts")
        .selectExpr("source", f"explode({chunks}) AS c")
        .selectExpr("source", "c.len AS l", "c.ch AS ch")
    )
    return (
        flat.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("ch").cast("bigint").alias("n_distinct_chunks"),
            F.expr(
                "ROUND(1.0 - CAST(COUNT(DISTINCT ch) AS DOUBLE) / COUNT(*), 6)"
            ).alias("chunk_dup_ratio"),
            F.expr(
                "ROUND(CAST(SUM(l) AS DOUBLE) / COUNT(*), 4)"
            ).alias("avg_chunk_tokens"),
        )
        .orderBy("source")
    )


# unbiased pass@k (Chen et al. 2021 estimator): per user with n trials
# and c successes, pass@k = 1 - C(n-c,k)/C(n,k) = 1 - prod_{i<k}
# (n-c-i)/(n-i); exact integer falling-factorial products, one division,
# round 6, then micro-scaled for the exact cross-user mean
def _pass_at_k(k: int) -> str:
    num = " * ".join(f"CAST(n - c - {i} AS DOUBLE)" for i in range(k))
    den = " * ".join(f"(n - {i})" for i in range(k))
    return (
        f"CASE WHEN n < {k} THEN NULL"
        f" WHEN c >= n THEN 1.0"
        f" ELSE ROUND(1.0 - ({num}) / ({den}), 6) END"
    )


def _pass_oracle() -> str:
    legs = []
    for k in (1, 3, 5):
        p = _pass_at_k(k)
        legs.append(f"""
SELECT {k} AS k,
       CAST(COUNT({p}) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(ROUND({p} * 1000000) AS BIGINT)) AS DOUBLE)
             / (COUNT({p}) * 1000000.0), 6) AS avg_pass_at_k
FROM trials""")
    return (
        """
WITH trials AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY 1)
"""
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY k"
    )


@query("pass_at_k_estimate", oracle=_pass_oracle())
def pass_at_k_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k over per-user event trials (success =
    'purchase'), k in {1, 3, 5}: the combinatorial estimator
    1 - C(n-c,k)/C(n,k) from the code-generation eval literature —
    the UNBIASED way to answer "if I drew k attempts from this user's
    history, would at least one convert", where the naive (c/n)-based
    plug-in is biased for small n. The same estimator an LLM eval
    pipeline runs over per-prompt sample pools; here exercised on the
    events table so the oracle can replay it exactly.

    Exactness: n/c exact; the falling-factorial ratio is one shared
    double chain, round 6, then micro-scaled to exact integers for the
    cross-user mean (no float accumulation); users with n < k are
    excluded by COUNT semantics identically in both engines.

    Scale: one user-keyed aggregate, then a 3-row summary."""
    trials = spark.table("events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c"),
    )
    out = None
    for k in (1, 3, 5):
        p = _pass_at_k(k)
        leg = trials.agg(
            F.expr(f"CAST(COUNT({p}) AS BIGINT)").alias("n_users"),
            F.expr(
                f"ROUND(CAST(SUM(CAST(ROUND({p} * 1000000) AS BIGINT))"
                f" AS DOUBLE) / (COUNT({p}) * 1000000.0), 6)"
            ).alias("avg_pass_at_k"),
        ).selectExpr(f"{k} AS k", "n_users", "avg_pass_at_k")
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("k")


_SB_REF = 16  # reference pool: the 16 lowest doc_ids


def _selfbleu_oracle() -> str:
    grams = _TXT.shingle_hashes("text", 2, "duck")
    return f"""
WITH g AS (
  SELECT doc_id, source, unnest({grams}) AS gh FROM documents),
ref AS (SELECT DISTINCT gh FROM g WHERE doc_id < {_SB_REF}),
cand AS (
  SELECT g.doc_id, g.source, g.gh,
         CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM g LEFT JOIN ref r USING (gh)
  WHERE g.doc_id >= {_SB_REF}),
per_doc AS (
  SELECT doc_id, source,
         CAST(ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 1000000)
              AS BIGINT) AS p6
  FROM cand GROUP BY 1, 2)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(p6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
         AS avg_bigram_overlap
FROM per_doc GROUP BY source ORDER BY source
"""


@query("self_bleu_diversity", oracle=_selfbleu_oracle())
def self_bleu_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-style corpus diversity per source (distinct-bigram
    variant): each document's share of distinct bigrams that also
    appear in a fixed 16-document reference pool, averaged per source
    — high overlap = the source repeats the corpus's phrasing (mode
    collapse / templated generation), low = diverse. The DIVERSITY
    complement to benchmark_contamination (same n-gram machinery,
    opposite question) and the corpus-level reading of
    repetition_signals.

    Exactness: bigram identity is the exact int64 shingle hash; the
    per-doc precision rounds to micro units before the exact per-source
    mean; one display division.

    Scale: one shingle explode; the reference pool is distinct-hash
    int64s (broadcastable); the join carries hashes, never text."""
    grams = _TXT.shingle_hashes("text", 2, "spark")
    # ONE bigram-hash pass (r15): the reference pool and the candidate
    # side both explode the same persisted per-doc gram-array relation
    # instead of each paying a full corpus hash pass (doc-count rows,
    # token-sized payload — the postings-cache budget).
    base = spark.table("documents").select(
        "doc_id", "source", F.expr(grams).alias("__ghs")
    ).persist()
    g = base.select("doc_id", "source", F.explode("__ghs").alias("gh"))
    ref = (
        g.filter(F.col("doc_id") < _SB_REF).select("gh").distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = (
        g.filter(F.col("doc_id") >= _SB_REF)
        .join(F.broadcast(ref), "gh", "left")
        .selectExpr("doc_id", "source", "COALESCE(hit, 0) AS hit")
    )
    per_doc = cand.groupBy("doc_id", "source").agg(
        F.expr(
            "CAST(ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 1000000)"
            " AS BIGINT)"
        ).alias("p6")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "ROUND(CAST(SUM(p6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)"
            ).alias("avg_bigram_overlap"),
        )
        .orderBy("source")
    )


_QLM_MU = 2000  # Dirichlet smoothing mass (Zhai & Lafferty's standard)
# per-(doc, term) log-likelihood contribution, micro-scaled to an exact
# integer before the per-doc sum — tf/cf/dl/ctot are exact integers, so
# the ln argument is one identical double chain in both engines
_QLM_TERM = (
    "CAST(ROUND(ln((tf + {mu} * (CAST(cf AS DOUBLE) / ctot))"
    " / (dl + {mu})) * 1000000) AS BIGINT)"
)


def _qlm_oracle(top_n: int) -> str:
    toks = _TXT.tokens("text", "duck")
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    term = _QLM_TERM.format(mu=_QLM_MU)
    return f"""
WITH base AS (SELECT doc_id, {toks} AS __toks FROM documents),
dl AS (SELECT doc_id, CAST(len(__toks) AS BIGINT) AS dl FROM base),
ctot AS (SELECT CAST(SUM(dl) AS BIGINT) AS ctot FROM dl),
tk AS (SELECT doc_id, unnest(__toks) AS token FROM base),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk
  WHERE token IN ({terms}) GROUP BY doc_id, token),
cf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY token),
grid AS (
  SELECT dl.doc_id, cf.token, cf.cf, dl.dl, ctot.ctot,
         COALESCE(tf.tf, 0) AS tf
  FROM dl CROSS JOIN cf CROSS JOIN ctot
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.token = cf.token),
scored AS (
  SELECT doc_id, CAST(SUM({term}) AS BIGINT) AS s6
  FROM grid GROUP BY doc_id)
SELECT doc_id, ROUND(CAST(s6 AS DOUBLE) / 1000000, 6) AS qlm_loglik
FROM scored ORDER BY s6 DESC, doc_id LIMIT {top_n}
"""


@query("qlm_dirichlet_search", oracle=_qlm_oracle(10))
def qlm_dirichlet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet
    smoothing (mu = 2000) for the shared 3-term query: score(d) =
    sum_t ln((tf_td + mu * cf_t/|C|) / (|d| + mu)) — the third classic
    ranking family beside tf-idf (vector space) and bm25
    (probabilistic): the LM view scores how likely the DOCUMENT's
    language model is to emit the query, and its smoothing term means
    documents missing a term are still comparable (no zero-knockout).
    Top-10 with (score, doc_id) tie order.

    Exactness: tf/cf/dl/|C| are exact integers; each (doc, term)
    contribution pays one ln over an identical double chain and rounds
    to micro units BEFORE the per-doc sum, so ordering is exact
    (ties broken on exact integers).

    Scale: the explode is term-filtered before any shuffle (inverted-
    index posture); the grid is |docs| x |terms| with the 3-row term
    stats broadcast — one scan, one doc-keyed aggregate, TakeOrdered
    top-10."""
    toks = _TXT.tokens("text", "spark")
    term = _QLM_TERM.format(mu=_QLM_MU)
    base = spark.table("documents").select(
        "doc_id", F.expr(toks).alias("__toks")
    )
    dl = base.select(
        "doc_id", F.expr("CAST(size(__toks) AS BIGINT)").alias("dl")
    )
    ctot = dl.agg(F.sum("dl").cast("bigint").alias("ctot"))
    tf = (
        base.select("doc_id", F.explode("__toks").alias("token"))
        .filter(F.col("token").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    cf = tf.groupBy("token").agg(F.sum("tf").cast("bigint").alias("cf"))
    grid = (
        dl.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(ctot))
        .join(tf, ["doc_id", "token"], "left")
        .selectExpr("doc_id", "cf", "dl", "ctot", "COALESCE(tf, 0) AS tf")
    )
    scored = grid.groupBy("doc_id").agg(
        F.expr(f"CAST(SUM({term}) AS BIGINT)").alias("s6")
    )
    return (
        scored.orderBy(F.desc("s6"), "doc_id")
        .limit(10)
        .selectExpr(
            "doc_id", "ROUND(CAST(s6 AS DOUBLE) / 1000000, 6) AS qlm_loglik"
        )
    )


from dawis_spark.functions import pii as _PII


def _pii_text(dialect: str) -> str:
    """text + a deterministic PII suffix (the synthetic corpus contains no
    organic PII, so the query plants one email/IP/phone per doc, keyed off
    doc_id, identically in both dialects)."""
    cast = "cast({} as string)" if dialect == "spark" else "CAST({} AS VARCHAR)"
    return (
        "text || ' contact user' || " + cast.format("doc_id")
        + " || '@mail' || " + cast.format("doc_id % 7")
        + " || '.example.com from 10.0.' || " + cast.format("doc_id % 250")
        + " || '.' || " + cast.format("doc_id % 9")
        + " || ' tel +49 30 1234 5' || " + cast.format("doc_id % 100")
    )


def _pii_oracle() -> str:
    counts = _PII.pii_counts_sql("ptext", "duckdb")
    cols = ",\n  ".join(f"CAST({e} AS BIGINT) AS {k}" for k, e in counts.items())
    red = _PII.redact_sql("ptext", "duckdb")
    return f"""
WITH p AS (SELECT doc_id, {_pii_text('duckdb')} AS ptext FROM documents)
SELECT doc_id,
  {cols},
  {red} AS redacted
FROM p ORDER BY doc_id
"""


@query("pii_redaction", oracle=_pii_oracle())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: count + redact emails, IPv4s, and
    phone numbers with dual-rendered backslash-free regexes
    (functions/pii.py). Pure map over the scan — zero shuffles at any
    scale; the value-hash compares the redacted strings byte-for-byte."""
    # sort below the regex stack (the psi_metric_extraction pattern):
    # a trailing orderBy range-samples the whole redaction chain
    p = (
        spark.table("documents")
        .orderBy("doc_id")
        .select("doc_id", F.expr(_pii_text("spark")).alias("ptext"))
    )
    counts = _PII.pii_counts_sql("ptext", "spark")
    return p.select(
        "doc_id",
        *[F.expr(e).cast("bigint").alias(k) for k, e in counts.items()],
        F.expr(_PII.redact_sql("ptext", "spark")).alias("redacted"),
    )


_ASOF_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.event_id, p.user_id, p.ts, c.click_id, c.ts AS click_ts,
         row_number() OVER (
           PARTITION BY p.event_id ORDER BY c.ts DESC, c.click_id DESC
         ) AS rn
  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
)
SELECT event_id, user_id, ts, click_id, click_ts
FROM j WHERE rn = 1 ORDER BY event_id
"""


@query("asof_last_click", oracle=_ASOF_ORACLE)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase matched to the user's most recent click
    at or before it (operators/asof.py). One union + one window per user
    — linear merge-join shape, vs the oracle's backward range join whose
    row inflation is the average click history per user."""
    from dawis_spark.operators.asof import asof_join

    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        time_col="ts",
        payload_cols=["click_id"],
        right_order="click_id",
        right_time_as="click_ts",
    ).select("event_id", "user_id", "ts", "click_id", "click_ts").orderBy("event_id")


_HYPER_SQL = """
SELECT
  CASE WHEN GROUPING(d) = 0 THEN 'day'
       WHEN GROUPING(w) = 0 THEN 'week'
       ELSE 'month' END AS grain,
  COALESCE(d, w, m) AS bucket,
  event_type,
  ROUND(SUM(value), 2) AS sum_value,
  COUNT(*) AS n_events
FROM (
  SELECT date_trunc('day', ts) AS d, date_trunc('week', ts) AS w,
         date_trunc('month', ts) AS m, event_type, value
  FROM events
) t
GROUP BY GROUPING SETS ((d, event_type), (w, event_type), (m, event_type))
ORDER BY grain, bucket, event_type
"""


@query("hypertable_rollup", oracle=_HYPER_SQL)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain continuous aggregate (the hypertable rollup pattern):
    day, week, and month buckets per event type computed in ONE scan via
    GROUPING SETS — Spark expands the sets map-side and partial-aggregates
    each, so the fact table is read once, not three times. Identical SQL
    text runs on both engines (date_trunc semantics agree: ISO weeks)."""
    return spark.sql(_HYPER_SQL)


_INCR_ROLLUP_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS v_sum,
  MIN(value) AS v_min, MAX(value) AS v_max,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("incremental_rollup_2ticks", oracle=_INCR_ROLLUP_ORACLE)
def incremental_rollup_2ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate MAINTENANCE, oracle-proven: the fact table is
    split into two interleaved batches (event_id parity — deliberately
    not time-ordered), each merged into a stored rollup by
    operators/rollup.update_rollup; the final rollup must hash-match a
    single-shot GROUP BY over ALL facts. This is the re-aggregatability
    invariant every incremental materialized view relies on: partials
    (count, decimal sum, min, max) merge associatively, derived metrics
    (avg) compute at read time.

    Scale: per-tick cost is one groupBy over the NEW slice plus a merge
    groupBy over (rollup ∪ batch partials) — grain-sized, independent of
    history length. Sums run on DECIMAL so any batch split produces
    bit-identical results (double summation order would drift)."""
    import os
    import shutil
    from urllib.parse import urlparse

    from dawis_spark.catalog import Warehouse
    from dawis_spark.operators.rollup import update_rollup

    # the session's warehouse directory, given as a path or a file: URI
    warehouse_dir = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    root = os.path.join(warehouse_dir, "incr_rollup_demo")
    shutil.rmtree(root, ignore_errors=True)  # idempotent re-runs
    wh = Warehouse(spark, root)
    events = spark.table("events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
        "event_id",
    )
    measures = {
        "n_events": ("sum", F.count(F.lit(1)).cast("bigint")),
        "v_sum": ("sum", F.sum(F.col("value").cast("decimal(18,6)"))),
        "v_min": ("min", F.min("value")),
        "v_max": ("max", F.max("value")),
    }
    keys = ["day", "event_type"]
    update_rollup(wh, "rollup", events.filter("event_id % 2 = 0"), keys, measures)
    merged = update_rollup(
        wh, "rollup", events.filter("event_id % 2 = 1"), keys, measures
    )
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.round("v_sum", 2).cast("double").alias("v_sum"),
        "v_min",
        "v_max",
        F.round(F.col("v_sum").cast("double") / F.col("n_events"), 6).alias(
            "avg_value"
        ),
    ).orderBy("day", "event_type")


_Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
europe AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_name,
       ROUND(c.unit_cost, 2) AS unit_cost
FROM part p
JOIN cost c ON c.l_partkey = p.p_partkey
JOIN europe s ON s.s_suppkey = c.l_suppkey
WHERE p.p_type = 'SMALL' AND p.p_size = 5
  AND c.unit_cost = (
    SELECT MIN(c2.unit_cost) FROM cost c2
    JOIN europe s2 ON s2.s_suppkey = c2.l_suppkey
    WHERE c2.l_partkey = p.p_partkey
  )
ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@query("q2_min_cost_supplier", oracle=_Q2_SQL)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier with a correlated scalar
    subquery), adapted: the testdata has no partsupp, so supply cost is
    the observed MIN(l_extendedprice/l_quantity) per (part, supplier).
    Catalyst decorrelates the subquery into a per-part min + self-join;
    nation/region/supplier dims broadcast."""
    return spark.sql(_Q2_SQL)


_Q11_SQL = """
WITH val AS (
  SELECT l_partkey, SUM(l_extendedprice) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey, ROUND(part_value, 2) AS part_value
FROM val
WHERE part_value > (SELECT SUM(part_value) * 0.0015 FROM val)
ORDER BY part_value DESC, l_partkey
"""


@query("q11_important_stock", oracle=_Q11_SQL)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (group value vs a global-total scalar subquery),
    adapted to lineitem-derived part value for one nation's suppliers
    (no partsupp table). The HAVING threshold is an uncorrelated scalar
    subquery — one extra reduction over the SAME aggregate, which Spark
    reuses via a subquery broadcast, not a rescan."""
    return spark.sql(_Q11_SQL)


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#2'
  AND p_type NOT LIKE 'ECONOMY%'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("q16_supplier_relationship", oracle=_Q16_SQL)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (distinct-supplier count per part attribute with a
    NOT IN anti-join), adapted: lineitem is the part-supplier bridge (no
    partsupp) and the complaints filter becomes a negative-balance filter
    (no s_comment column). Anti-join broadcasts the tiny supplier
    exclusion set; COUNT(DISTINCT) expands map-side."""
    return spark.sql(_Q16_SQL)


_Q20_SQL = """
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                  THEN l_quantity ELSE 0 END) AS qty_1996,
         SUM(l_quantity) AS qty_total
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
  GROUP BY l_suppkey, l_partkey
)
SELECT DISTINCT s_name, n_name
FROM shipped
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE qty_1996 > 0.5 * qty_total
ORDER BY s_name
"""


@query("q20_excess_shippers", oracle=_Q20_SQL)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers whose recent movement of a part family
    exceeds half their total), adapted: availability comes from shipped
    quantities (no partsupp). The year/total comparison is a conditional
    aggregation in ONE pass over the filtered fact — no self-join of
    lineitem; the part-name filter prunes before the shuffle."""
    return spark.sql(_Q20_SQL)


@query(
    "ann_recall_lsh",
    oracle=ann_recall_sql(
        _embedding_topk_oracle(5, 10), _ann_lsh_oracle(5, 10, 4, 64), 5
    ),
)
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the ANN index: recall@5 of the sign-LSH path
    against the exact brute-force top-5, per query — the metric an index
    tuner watches when trading planes/probes against recall. Both sides
    reuse the production operators; the comparison join is on
    (query_id, neighbor_id) — top-k-sized, negligible at any scale."""
    from dawis_spark.operators.similarity import lsh_ann_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    approx = lsh_ann_topk(
        corpus=emb, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=5, n_planes=4, dim=64,
    )
    return recall_at_k(exact_topk(emb, 5), approx, 5)


# skew profile legs: (key name, table, key column) — the three join keys
# the relational spine actually shuffles on
_SKEW_LEGS = (
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("events.user_id", "events", "user_id"),
)


def _skew_leg_sql(name: str, table: str, col: str) -> str:
    return f"""
SELECT '{name}' AS join_key,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 4)
         AS max_over_mean,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top1_share
FROM (SELECT {col} AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM {table} GROUP BY 1)"""


_SKEW_PROFILE_ORACLE = (
    "\nUNION ALL\n".join(_skew_leg_sql(*leg) for leg in _SKEW_LEGS)
    + "\nORDER BY join_key"
)


@query("join_key_skew_profile", oracle=_SKEW_PROFILE_ORACLE)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile for the three join keys the relational
    spine actually exchanges on: per key, the distinct-key count, row
    count, heaviest key's row count, its ratio over the mean key size
    (the number AQE's skew-join threshold reasons about), and its share
    of all rows. The planning input for the salting/whale-guard
    machinery — you measure skew BEFORE choosing between a plain
    shuffle join, a broadcast, or salted_skew_join, and at 100 TB this
    profile is the difference between a plan that finishes and one
    straggler task that doesn't.

    Exactness: all counts exact integers from one keyed aggregate per
    leg; two display divisions. Scale: each leg is one map-partial
    groupBy collapsing to a 1-row summary — the profile costs a
    fraction of any join it informs."""
    out = None
    for name, table, col in _SKEW_LEGS:
        per_key = (
            spark.table(table)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        leg = per_key.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_key_rows"),
        ).selectExpr(
            f"'{name}' AS join_key",
            "n_keys",
            "n_rows",
            "max_key_rows",
            "ROUND(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 4)"
            " AS max_over_mean",
            "ROUND(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top1_share",
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("join_key")


_SALTED_JOIN_ORACLE = """
WITH dim(event_type, weight) AS (
  VALUES ('click', 2), ('error', 5), ('purchase', 4), ('signup', 3), ('view', 1)
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,6)) * d.weight), 2) AS DOUBLE) AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


@query("salted_skew_join", oracle=_SALTED_JOIN_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted join over a pathologically skewed key: events has
    only 5 distinct event_type values, so an unsalted shuffle join tops
    out at 5 active tasks no matter how many executors exist. salted_join
    (operators/skew.py) scatters the big side across salt_buckets
    sub-keys and replicates the small side once per bucket — 5 keys
    become 40 shuffle partitionable keys, restoring parallelism. The
    result is provably identical to the plain join (the oracle IS the
    plain join); at this dim size broadcast would also work — salting is
    the tool when the small side exceeds the broadcast budget or the
    planner is stuck on sort-merge. Sums run on DECIMAL so both engines
    agree to the last bit regardless of summation order."""
    from dawis_spark.operators.skew import salted_join

    dim = spark.createDataFrame(
        [("click", 2), ("error", 5), ("purchase", 4), ("signup", 3), ("view", 1)],
        "event_type string, weight int",
    )
    joined = salted_join(
        spark.table("events").select("event_type", "value"),
        dim,
        "event_type",
        salt_buckets=8,
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)") * F.col("weight")), 2
            )
            .cast("double")
            .alias("weighted_value"),
        )
        .orderBy("event_type")
    )


@query(
    "ann_recall_lsh_multiprobe",
    oracle=ann_recall_sql(
        _embedding_topk_oracle(5, 10), _ann_lsh_multiprobe_oracle(5, 10, 4, 64), 5
    ),
)
def ann_recall_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the MULTI-PROBE sign-LSH path against exact brute-force
    — the companion metric to ann_recall_lsh that quantifies what the
    Hamming-1 probe set buys (0.36 -> 0.76 recall on this corpus at
    sf0.01). Same top-k-sized comparison join."""
    from dawis_spark.operators.similarity import lsh_ann_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    approx = lsh_ann_topk(
        corpus=emb, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=5, n_planes=4, dim=64, multi_probe=True,
    )
    return recall_at_k(exact_topk(emb, 5), approx, 5)


def _chunk_docs_oracle(chunk: int, overlap: int) -> str:
    stride = chunk - overlap
    toks = _TXT.tokens("text", "duck")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
n AS (
  SELECT doc_id, toks,
         greatest(1, CAST(ceil((len(toks) - {chunk}) / {stride}.0) AS BIGINT) + 1) AS nc
  FROM t
),
c AS (
  SELECT doc_id, unnest(range(0, nc)) AS chunk_id, toks FROM n
),
s AS (
  SELECT doc_id, chunk_id,
         list_slice(toks, chunk_id * {stride} + 1, chunk_id * {stride} + {chunk}) AS ch
  FROM c
)
SELECT doc_id, chunk_id,
       CAST(len(ch) AS BIGINT) AS n_chunk_tokens,
       array_to_string(ch, ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_id
"""


@query("chunk_documents", oracle=_chunk_docs_oracle(64, 8))
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride context-window chunking (64-token windows, 8-token
    overlap) — the step between cleaned documents and training
    sequences; pack_documents bins the output. Pure map-side array
    arithmetic: tokenize once, explode window offsets, slice — zero
    shuffles besides the output sort."""
    from dawis_spark.operators.corpus import chunk_documents

    return chunk_documents(
        spark.table("documents"), "doc_id", "text", chunk_tokens=64, overlap=8
    ).orderBy("doc_id", "chunk_id")


def _corpus_filter_oracle(
    keep_lang: str, min_quality: float, min_tokens: int
) -> str:
    lang = _lang_id_oracle().strip()
    qual = _quality_oracle().strip()
    return f"""
WITH l AS (SELECT doc_id, lang_pred FROM ({lang})),
qq AS (SELECT doc_id, n_tokens, quality FROM ({qual})),
kept AS (
  SELECT d.doc_id, d.source, d.text, l.lang_pred, qq.n_tokens, qq.quality
  FROM documents d JOIN l USING (doc_id) JOIN qq USING (doc_id)
  WHERE l.lang_pred = '{keep_lang}'
    AND qq.quality >= {min_quality} AND qq.n_tokens >= {min_tokens}
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS __rn
  FROM kept
)
SELECT doc_id, source, lang_pred, n_tokens, quality
FROM dedup WHERE __rn = 1 ORDER BY doc_id
"""


@query("corpus_filter_pipeline", oracle=_corpus_filter_oracle("en", 0.65, 10))
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data composition: language gate -> quality
    gate -> length gate -> exact dedup, producing the surviving corpus.

    Scale shape (operators/corpus.corpus_filter): every signal evaluates
    in ONE map-side projection over a single scan — the oracle composes
    the standalone language/quality SQL for readability, but the Spark
    plan never rescans or self-joins the corpus. Filters precede the
    plan's only shuffle (the dedup exchange on 32-byte sha2 digests), so
    rejected documents never leave their input partition."""
    from dawis_spark.operators.corpus import corpus_filter

    return corpus_filter(
        spark.table("documents"),
        "doc_id",
        "text",
        keep_lang="en",
        min_quality=0.65,
        min_tokens=10,
        extra_cols=("source",),
    ).orderBy("doc_id")


def _source_rollup_oracle() -> str:
    quality = _quality_oracle().strip()
    return f"""
WITH q AS (SELECT * FROM ({quality}))
SELECT d.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT sha256(d.text)) AS BIGINT) AS n_distinct_texts,
  ROUND(1.0 - COUNT(DISTINCT sha256(d.text)) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac,
  ROUND(AVG(CAST(q.n_tokens AS DOUBLE)), 2) AS avg_tokens,
  ROUND(AVG(q.quality), 4) AS avg_quality
FROM documents d JOIN q ON d.doc_id = q.doc_id
GROUP BY d.source ORDER BY d.source
"""


@query("source_quality_rollup", oracle=_source_rollup_oracle())
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-reputation rollup — the per-domain health table a crawl
    pipeline keeps: volume, exact-dup rate, mean length and quality per
    source. Composes the production quality_score operator with a
    distinct-count on sha2(text): the exchange for the distinct carries
    32-byte digests, never document bodies — same cardinality (SHA-256
    collisions are negligible), scale-safe shuffle width. DuckDB's
    sha256() mirrors it on the oracle side. Single scan: quality_score
    passes source/text through (extra_cols) instead of self-joining the
    corpus back on doc_id."""
    docs = spark.table("documents")
    scored = _TS.quality_score(
        docs, "doc_id", "text", extra_cols=("source", "text")
    ).select("doc_id", "source", "text", "n_tokens", "quality")
    digest = F.sha2(F.col("text"), 256)
    return (
        scored
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct(digest).cast("bigint").alias("n_distinct_texts"),
            F.round(
                1.0 - F.countDistinct(digest) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 2).alias("avg_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("source")
    )


_DUPS_PARITY_ORACLE = """
WITH g AS (
  SELECT p_name,
         list_sort(list_transform(list(p_partkey), x -> CAST(x AS VARCHAR))) AS ids
  FROM part GROUP BY p_name HAVING count(*) > 1
),
x AS (SELECT p_name, ids, unnest(ids) AS id FROM g)
SELECT id AS p_partkey, p_name,
       array_to_string(list_filter(ids, v -> v != id), ', ') AS diff
FROM x
ORDER BY p_name, p_partkey
"""


@query("duplicate_detection_parity", oracle=_DUPS_PARITY_ORACLE)
def duplicate_detection_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 duplicate detection, exact reference diff format (metatags.py:
    277-377): every member lists EVERY other member — opt-in because the
    format itself is quadratic in group size; ``duplicate_detection`` (the
    capped form) is the pipeline default."""
    from dawis_spark.operators.dedup import exact_duplicate_groups

    return exact_duplicate_groups(
        spark.table("part"), id_col="p_partkey", value_col="p_name"
    ).orderBy("p_name", "p_partkey")


_DUPS_HOT_ORACLE = f"""
WITH g AS (
  SELECT p_brand,
         list_sort(list_transform(list(p_partkey), x -> CAST(x AS VARCHAR))) AS ids
  FROM part GROUP BY p_brand HAVING count(*) > 1
),
x AS (SELECT p_brand, ids, unnest(ids) AS id FROM g)
SELECT id AS p_partkey, p_brand,
       array_to_string(list_slice(list_filter(ids, v -> v != id), 1, {_DUPS_CAP}), ', ') AS diff
FROM x
ORDER BY p_brand, p_partkey
"""


@query("duplicate_groups_hot_key", oracle=_DUPS_HOT_ORACLE)
def duplicate_groups_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped duplicate-diff path under a HOT value: ~25 distinct
    p_brand values over the whole part table means groups of hundreds at
    sf0.01 (millions at scale) — exactly the pathological case the cap
    exists for. The bounded plan (row_number top-K+1, never a whole-group
    collect_list) emits one linear-size row per member; the oracle mirrors
    the first-K-sorted-other-ids semantics with list_slice."""
    from dawis_spark.operators.dedup import exact_duplicate_groups

    return exact_duplicate_groups(
        spark.table("part"),
        id_col="p_partkey",
        value_col="p_brand",
        max_diff_ids=_DUPS_CAP,
    ).orderBy("p_brand", "p_partkey")


def _pq_ctes(n_sub: int, ds: int, ks: int) -> str:
    """DuckDB replay of PQ training (1 Lloyd round, L2 per subspace) and
    corpus encoding — mirrors operators/similarity.pq_train/pq_encode
    bit-for-bit: init = slices of the ks lowest-id vectors rounded to 6,
    assignment = argmin of 6-digit-rounded L2^2 with lowest-code
    tie-break, update = per-(m,code,pos) avg rounded to 6. Ends with
    cb(m, code, cv) and codes(vec_id, m, code).

    Training (a1/upd) reads only the ``TRAIN_SAMPLE_LIMIT`` lowest-id
    prefix, mirroring pq_train's bounded driver sample (ADVICE r6);
    encoding (codes) still covers the full corpus."""
    l2_init = _VEC.l2_sq("s.sv", "ini.cv", "duck")
    l2_enc = _VEC.l2_sq("s.sv", "cb.cv", "duck")
    return f"""
v AS (SELECT vec_id, embedding AS vec FROM embeddings),
sub AS (
  SELECT vec_id, sp.m AS m,
         list_transform(range(sp.m * {ds} + 1, sp.m * {ds} + {ds} + 1),
                        ix -> CAST(vec[ix] AS DOUBLE)) AS sv
  FROM v, range(0, {n_sub}) sp(m)
),
init AS (
  SELECT s.m, row_number() OVER (PARTITION BY s.m ORDER BY s.vec_id) - 1 AS code,
         list_transform(s.sv, x -> round(x, 6)) AS cv
  FROM sub s
  WHERE s.vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {ks})
),
a1 AS (
  SELECT s.vec_id, s.m, s.sv,
    (SELECT ini.code FROM init ini WHERE ini.m = s.m
     ORDER BY round({l2_init}, 6) ASC, ini.code LIMIT 1) AS code
  FROM sub s
  WHERE s.vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {TRAIN_SAMPLE_LIMIT})
),
upd AS (
  SELECT m, code, r.pos AS pos, round(avg(sv[r.pos]), 6) AS c
  FROM a1, range(1, {ds + 1}) r(pos)
  GROUP BY m, code, r.pos
),
cb1a AS (SELECT m, code, list(c ORDER BY pos) AS cv FROM upd GROUP BY m, code),
cb AS (
  SELECT ini.m, ini.code, COALESCE(u.cv, ini.cv) AS cv
  FROM init ini LEFT JOIN cb1a u ON ini.m = u.m AND ini.code = u.code
),
codes AS (
  SELECT s.vec_id, s.m,
    (SELECT cb.code FROM cb WHERE cb.m = s.m
     ORDER BY round({l2_enc}, 6) ASC, cb.code LIMIT 1) AS code
  FROM sub s
)"""


def _pq_codes_oracle(n_sub: int, ds: int, ks: int) -> str:
    return f"""
WITH {_pq_ctes(n_sub, ds, ks)}
SELECT vec_id, m, code FROM codes ORDER BY vec_id, m
"""


@query("embedding_pq_codes", oracle=_pq_codes_oracle(4, 16, 16))
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jegou et al. 2011): train 4 per-
    subspace codebooks of 16 codes (one Lloyd round, L2, deterministic
    init + 6-digit rounding) and compress every 64-float embedding to 4
    small codes — 256 B -> 4 B, the write path that makes a 100 TB
    embedding table scannable. Training shuffles only (m, code, pos,
    partial-avg); encoding is pure map-side codegen. Emitted exploded as
    one (vec_id, m, code) row per subspace so every cell is a scalar the
    comparison harness can sort/hash. The oracle replays training AND
    encoding in DuckDB."""
    from dawis_spark.operators.similarity import pq_encode, pq_train

    emb = spark.table("embeddings")
    books = pq_train(emb, "vec_id", "embedding", n_subspaces=4, n_codes=16)
    # sort below the encoder (the psi_metric_extraction pattern):
    # posexplode emits ascending m per row, so encoding the vec_id-sorted
    # corpus yields exactly the (vec_id, m) order without a trailing sort
    return pq_encode(emb.orderBy("vec_id"), "vec_id", "embedding", books).select(
        F.col("id").alias("vec_id"), F.posexplode("codes").alias("m", "code")
    )


def _pq_ann_oracle(k: int, n_queries: int, n_sub: int, ds: int, ks: int) -> str:
    nsq_cv = _VEC.norm_sq("cb.cv", "duck")
    dot_qc = _VEC.dot("q.sv", "cb.cv", "duck")
    qn_v = _VEC.norm_sq("vec", "duck")
    fold = "list_reduce(list_prepend(CAST(0 AS DOUBLE), {}), (s, acc_v) -> s + acc_v)"
    return f"""
WITH {_pq_ctes(n_sub, ds, ks)},
nsq AS (
  SELECT c.vec_id, c.m, {nsq_cv} AS nsq
  FROM codes c JOIN cb ON c.m = cb.m AND c.code = cb.code
),
recon AS (
  SELECT vec_id, {fold.format("list(nsq ORDER BY m)")} AS xsq
  FROM nsq GROUP BY vec_id
),
ipm AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.m, {dot_qc} AS ipm
  FROM sub q
  JOIN codes c ON q.m = c.m
  JOIN cb ON c.m = cb.m AND c.code = cb.code
  WHERE q.vec_id < {n_queries}
),
ip AS (
  SELECT query_id, neighbor_id, {fold.format("list(ipm ORDER BY m)")} AS ip
  FROM ipm GROUP BY query_id, neighbor_id
),
qn AS (SELECT vec_id AS query_id, sqrt({qn_v}) AS qn FROM v WHERE vec_id < {n_queries}),
scored AS (
  SELECT ip.query_id, ip.neighbor_id,
         round(ip.ip / nullif(qn.qn * sqrt(r.xsq), 0), 6) AS cosine
  FROM ip
  JOIN qn USING (query_id)
  JOIN recon r ON r.vec_id = ip.neighbor_id
  WHERE ip.query_id != ip.neighbor_id
)
{top_k_sql("scored", k)}
"""


@query("embedding_ann_pq", oracle=_pq_ann_oracle(5, 10, 4, 16, 16))
def embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC linear scan, Jegou et al. §4.1):
    per query, a lookup table of <query-slice, sub-centroid> inner
    products against the literal codebooks; per pair, the approximate
    cosine is 4 array lookups + adds over the 4-byte codes. The corpus
    side reads only (id, codes) — at 100 TB the scan is ~64x lighter
    than raw vectors, and no shuffle ever carries a vector. Oracle
    replays train + encode + ADC scoring in one SQL."""
    from dawis_spark.operators.similarity import pq_topk, pq_train

    emb = spark.table("embeddings")
    books = pq_train(emb, "vec_id", "embedding", n_subspaces=4, n_codes=16)
    return pq_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        books=books,
    ).orderBy("query_id", "rank")


def _ivfpq_oracle(
    k: int, n_queries: int, n_cent: int, n_probe: int, n_sub: int, ds: int, ks: int,
    dim: int,
) -> str:
    """IVFPQ replay with the TRAINED coarse quantizer: the ``cent`` CTE is
    the one-round-k-means chain (km_ prefix), mirroring the library's
    trained-by-default quantizer."""
    cos_vc = _VEC.cosine("vec", "cvec", "duck")
    nsq_cv = _VEC.norm_sq("cb.cv", "duck")
    dot_qc = _VEC.dot("q.sv", "cb.cv", "duck")
    qn_v = _VEC.norm_sq("vec", "duck")
    fold = "list_reduce(list_prepend(CAST(0 AS DOUBLE), {}), (s, acc_v) -> s + acc_v)"
    return f"""
WITH {_pq_ctes(n_sub, ds, ks)},
{_kmeans_c1_ctes(n_cent, dim, "km_")},
cent AS (SELECT cid, cvec FROM km_c1),
corpus_aff AS (
  SELECT vec_id AS neighbor_id, cid, ROUND({cos_vc}, 6) AS aff FROM v, cent
),
corpus_b AS (
  SELECT neighbor_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY aff DESC, cid) AS r
    FROM corpus_aff
  ) WHERE r <= 1
),
q_aff AS (
  SELECT vec_id AS query_id, cid, ROUND({cos_vc}, 6) AS aff
  FROM (SELECT vec_id, vec FROM v WHERE vec_id < {n_queries}) q, cent
),
q_b AS (
  SELECT query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY aff DESC, cid) AS r
    FROM q_aff
  ) WHERE r <= {n_probe}
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM q_b JOIN corpus_b USING (cid)
  WHERE query_id != neighbor_id
),
nsq AS (
  SELECT c.vec_id, c.m, {nsq_cv} AS nsq
  FROM codes c JOIN cb ON c.m = cb.m AND c.code = cb.code
),
recon AS (
  SELECT vec_id, {fold.format("list(nsq ORDER BY m)")} AS xsq
  FROM nsq GROUP BY vec_id
),
ipm AS (
  SELECT ca.query_id, ca.neighbor_id, q.m, {dot_qc} AS ipm
  FROM cand ca
  JOIN sub q ON q.vec_id = ca.query_id
  JOIN codes c ON c.vec_id = ca.neighbor_id AND c.m = q.m
  JOIN cb ON cb.m = c.m AND cb.code = c.code
),
ip AS (
  SELECT query_id, neighbor_id, {fold.format("list(ipm ORDER BY m)")} AS ip
  FROM ipm GROUP BY query_id, neighbor_id
),
qn AS (SELECT vec_id AS query_id, sqrt({qn_v}) AS qn FROM v WHERE vec_id < {n_queries}),
scored AS (
  SELECT ip.query_id, ip.neighbor_id,
         round(ip.ip / nullif(qn.qn * sqrt(r.xsq), 0), 6) AS cosine
  FROM ip
  JOIN qn USING (query_id)
  JOIN recon r ON r.vec_id = ip.neighbor_id
)
{top_k_sql("scored", k)}
"""


def _ivfadc_oracle(
    k: int, n_queries: int, n_cent: int, n_probe: int, n_sub: int, ds: int, ks: int,
    dim: int,
) -> str:
    """Full residual-IVFPQ (IVFADC) replay with the TRAINED coarse
    quantizer (km_ k-means chain, mirroring the library default): coarse
    assignment, residual computation, PQ training excluding the cid label
    set (the degenerate-init guard mirrored from ivfpq_residual_ann_topk),
    encoding, and decomposed-norm ADC scoring, all in one DuckDB SQL."""
    cos_vc = _VEC.cosine("vec", "cvec", "duck")
    l2_init = _VEC.l2_sq("s.sv", "ini.cv", "duck")
    l2_enc = _VEC.l2_sq("s.sv", "cb.cv", "duck")
    nsq_cv = _VEC.norm_sq("cb.cv", "duck")
    nsq_cent = _VEC.norm_sq("cvec", "duck")
    dot_qc = _VEC.dot("q.sv", "cb.cv", "duck")
    dot_qcent = _VEC.dot("qv.vec", "cn.cvec", "duck")
    # <c_m, r_mj>: dot of the centroid's m-th slice against the sub-centroid
    dot_ccv = _VEC.dot("cs.cvsub", "cb.cv", "duck")
    fold = "list_reduce(list_prepend(CAST(0 AS DOUBLE), {}), (s, acc_v) -> s + acc_v)"
    return f"""
WITH v AS (SELECT vec_id, embedding AS vec FROM embeddings),
{_kmeans_c1_ctes(n_cent, dim, "km_")},
cent AS (SELECT cid, cvec FROM km_c1),
corpus_aff AS (
  SELECT vec_id AS id, cid, ROUND({cos_vc}, 6) AS aff FROM v, cent
),
corpus_b AS (
  SELECT id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY aff DESC, cid) AS r
    FROM corpus_aff
  ) WHERE r <= 1
),
sub AS (
  SELECT b.id AS vec_id, sp.m AS m,
         list_transform(range(sp.m * {ds} + 1, sp.m * {ds} + {ds} + 1),
                        ix -> CAST(vv.vec[ix] AS DOUBLE) - CAST(cn.cvec[ix] AS DOUBLE)) AS sv
  FROM corpus_b b
  JOIN v vv ON vv.vec_id = b.id
  JOIN cent cn ON cn.cid = b.cid,
       range(0, {n_sub}) sp(m)
),
init AS (
  SELECT s.m, row_number() OVER (PARTITION BY s.m ORDER BY s.vec_id) - 1 AS code,
         list_transform(s.sv, x -> round(x, 6)) AS cv
  FROM sub s
  WHERE s.vec_id IN (
    SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT cid FROM cent)
    ORDER BY vec_id LIMIT {ks}
  )
),
a1 AS (
  SELECT s.vec_id, s.m, s.sv,
    (SELECT ini.code FROM init ini WHERE ini.m = s.m
     ORDER BY round({l2_init}, 6) ASC, ini.code LIMIT 1) AS code
  FROM sub s
  WHERE s.vec_id IN (
    SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT cid FROM cent)
    ORDER BY vec_id LIMIT {TRAIN_SAMPLE_LIMIT}
  )
),
upd AS (
  SELECT m, code, r.pos AS pos, round(avg(sv[r.pos]), 6) AS c
  FROM a1, range(1, {ds + 1}) r(pos)
  GROUP BY m, code, r.pos
),
cb1a AS (SELECT m, code, list(c ORDER BY pos) AS cv FROM upd GROUP BY m, code),
cb AS (
  SELECT ini.m, ini.code, COALESCE(u.cv, ini.cv) AS cv
  FROM init ini LEFT JOIN cb1a u ON ini.m = u.m AND ini.code = u.code
),
codes AS (
  SELECT s.vec_id, s.m,
    (SELECT cb.code FROM cb WHERE cb.m = s.m
     ORDER BY round({l2_enc}, 6) ASC, cb.code LIMIT 1) AS code
  FROM sub s
),
centsub AS (
  SELECT cn.cid, sp.m AS m,
         list_transform(range(sp.m * {ds} + 1, sp.m * {ds} + {ds} + 1),
                        ix -> CAST(cn.cvec[ix] AS DOUBLE)) AS cvsub
  FROM cent cn, range(0, {n_sub}) sp(m)
),
resq AS (
  SELECT c.vec_id, c.m, 2 * {dot_ccv} + {nsq_cv} AS rq
  FROM codes c
  JOIN corpus_b b ON b.id = c.vec_id
  JOIN centsub cs ON cs.cid = b.cid AND cs.m = c.m
  JOIN cb ON cb.m = c.m AND cb.code = c.code
),
recon AS (
  SELECT r.vec_id,
         (SELECT {nsq_cent} FROM cent WHERE cid = b.cid) +
         {fold.format("list(rq ORDER BY m)")} AS xsq
  FROM resq r JOIN corpus_b b ON b.id = r.vec_id
  GROUP BY r.vec_id, b.cid
),
q_aff AS (
  SELECT vec_id AS query_id, cid, ROUND({cos_vc}, 6) AS aff
  FROM (SELECT vec_id, vec FROM v WHERE vec_id < {n_queries}) q, cent
),
q_b AS (
  SELECT query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY aff DESC, cid) AS r
    FROM q_aff
  ) WHERE r <= {n_probe}
),
cand AS (
  SELECT DISTINCT q_b.query_id, b.id AS neighbor_id
  FROM q_b JOIN corpus_b b USING (cid)
  WHERE q_b.query_id != b.id
),
qsub AS (
  SELECT vv.vec_id AS query_id, sp.m AS m,
         list_transform(range(sp.m * {ds} + 1, sp.m * {ds} + {ds} + 1),
                        ix -> CAST(vv.vec[ix] AS DOUBLE)) AS sv
  FROM v vv, range(0, {n_sub}) sp(m)
  WHERE vv.vec_id < {n_queries}
),
ipm AS (
  SELECT ca.query_id, ca.neighbor_id, q.m, {dot_qc} AS ipm
  FROM cand ca
  JOIN qsub q ON q.query_id = ca.query_id
  JOIN codes c ON c.vec_id = ca.neighbor_id AND c.m = q.m
  JOIN cb ON cb.m = c.m AND cb.code = c.code
),
ip AS (
  SELECT query_id, neighbor_id, {fold.format("list(ipm ORDER BY m)")} AS ipr
  FROM ipm GROUP BY query_id, neighbor_id
),
qcterm AS (
  SELECT qv.vec_id AS query_id, b.id AS neighbor_id, {dot_qcent} AS qc
  FROM (SELECT vec_id, vec FROM v WHERE vec_id < {n_queries}) qv,
       corpus_b b JOIN cent cn ON cn.cid = b.cid
),
qn AS (SELECT vec_id AS query_id, sqrt({_VEC.norm_sq("vec", "duck")}) AS qn
       FROM v WHERE vec_id < {n_queries}),
scored AS (
  SELECT ip.query_id, ip.neighbor_id,
         round((qt.qc + ip.ipr) / nullif(qn.qn * sqrt(r.xsq), 0), 6) AS cosine
  FROM ip
  JOIN qcterm qt ON qt.query_id = ip.query_id AND qt.neighbor_id = ip.neighbor_id
  JOIN qn ON qn.query_id = ip.query_id
  JOIN recon r ON r.vec_id = ip.neighbor_id
)
{top_k_sql("scored", k)}
"""


@query("embedding_ann_ivfadc", oracle=_ivfadc_oracle(5, 10, 16, 4, 4, 16, 16, 64))
def embedding_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFPQ — the canonical FAISS IVFADC: PQ codebooks trained
    on (x - coarse centroid) residuals, candidates from 4 probed coarse
    buckets, scoring from the exact decomposition <q,x^> = <q,c> +
    <q,r^> and |x^|^2 = |c|^2 + 2<c,r^> + |r^|^2 — per corpus row the
    non-code terms are driver-built literal lookups, so the scan still
    reads only (id, codes). The coarse quantizer is the library default:
    TRAINED one-round k-means (untrained first-C gives lopsided buckets
    on skewed embeddings). The oracle replays k-means training, coarse
    assignment, residual training, encoding and decomposed scoring in
    one SQL."""
    from dawis_spark.operators.similarity import ivfpq_residual_ann_topk

    emb = spark.table("embeddings")
    return ivfpq_residual_ann_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_centroids=16,
        n_probe=4,
        n_subspaces=4,
        n_codes=16,
    ).orderBy("query_id", "rank")


@query("embedding_ann_ivfpq", oracle=_ivfpq_oracle(5, 10, 16, 4, 4, 16, 16, 64))
def embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFPQ shape, non-residual): the
    coarse quantizer prunes candidates to 4 probed buckets, PQ asymmetric
    distance scores the survivors from 4-byte codes — at 100 TB this is
    THE embedding-search plan: n_probe/C of the corpus scanned, and what
    is scanned is codes, never raw vectors. Encode + coarse assignment
    happen in one map-side scan with no shuffle; the only exchanges carry
    id/score triples. The coarse quantizer is the library default:
    TRAINED one-round k-means. Oracle replays k-means, coarse probing
    AND PQ train/encode/scoring in one SQL."""
    from dawis_spark.operators.similarity import ivfpq_ann_topk, pq_train

    emb = spark.table("embeddings")
    books = pq_train(emb, "vec_id", "embedding", n_subspaces=4, n_codes=16)
    return ivfpq_ann_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_centroids=16,
        n_probe=4,
        books=books,
    ).orderBy("query_id", "rank")


@query(
    "ann_recall_pq",
    oracle=ann_recall_sql(
        _embedding_topk_oracle(5, 10), _pq_ann_oracle(5, 10, 4, 16, 16), 5
    ),
)
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ ADC scan against exact brute force, per query —
    the metric that tunes M/Ks (code budget) against quality, completing
    the self-eval set (LSH, multiprobe, PQ). Both sides reuse the
    production operators; the comparison join is top-k-sized."""
    from dawis_spark.operators.similarity import pq_topk, pq_train

    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    books = pq_train(emb, "vec_id", "embedding", n_subspaces=4, n_codes=16)
    approx = pq_topk(
        corpus=emb, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=5, books=books,
    )
    return recall_at_k(exact_topk(emb, 5), approx, 5)


@query(
    "ann_recall_ivfadc",
    oracle=ann_recall_sql(
        _embedding_topk_oracle(5, 10), _ivfadc_oracle(5, 10, 16, 4, 4, 16, 16, 64), 5
    ),
)
def ann_recall_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the full production ANN pipeline (trained-quantizer
    residual IVFPQ) against exact brute force, per query — the self-eval
    that proves the composed default (k-means coarse quantizer + residual
    codes + 4-probe search) holds quality, completing the recall set
    (LSH, multiprobe, PQ, IVFADC). Both sides reuse the production
    operators; the comparison join is top-k-sized."""
    from dawis_spark.operators.similarity import ivfpq_residual_ann_topk

    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    approx = ivfpq_residual_ann_topk(
        corpus=emb, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=5, n_centroids=16, n_probe=4,
        n_subspaces=4, n_codes=16,
    )
    return recall_at_k(exact_topk(emb, 5), approx, 5)


_SESSION_WINDOW_ORACLE = """
WITH e AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
         event_id
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total
FROM g GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@query("session_window_agg", oracle=_SESSION_WINDOW_ORACLE)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows in batch (``F.session_window``, 30-minute
    gap): one row per (user, session) with bounds and totals — the same
    engine state machine the streaming ``session_counts`` wrapper uses,
    oracle-checked here via the gaps-and-islands SQL equivalent. Session
    end is last-event + gap and the boundary is EXCLUSIVE (an event at
    exactly prev + gap starts a new session), which the oracle mirrors
    with ``>=``.

    Scale: one shuffle on user_id; the engine merges windows inside the
    aggregation state rather than via a lag + cumsum window pair, so
    there is no second windowing pass over the sorted partition."""
    ev = spark.table("events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n",
            "total",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Round-6 additions: data-mixing weights, URL canonicalization dedup,
# SemDeDup semantic dedup, metadata-filtered ANN
# ---------------------------------------------------------------------------



# ---------------------------------------------------------------------------
# Dedup cluster-size histogram (r13)
# ---------------------------------------------------------------------------

_DCS_ORACLE = """
WITH clusters AS (
  SELECT sha256(text) AS h, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(cluster_size) AS BIGINT) AS n_total FROM clusters)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(cluster_size) AS DOUBLE) / MAX(n_total), 6) AS doc_share
FROM clusters CROSS JOIN tot
GROUP BY cluster_size ORDER BY cluster_size
"""


@query("dedup_cluster_sizes", oracle=_DCS_ORACLE)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the shape report behind
    every dedup decision: dedup_exact says WHICH doc survives,
    dup_rate_by_source says HOW MUCH is duplicated per source, this
    says HOW duplication is organized (a corpus with one 10k-doc
    boilerplate cluster needs different handling than 10k pairs). The
    histogram is also the exact input to the 'keep one per cluster'
    token-savings forecast: savings = sum((size-1) x avg_tokens).

    Exactness: clusters keyed on the full sha2-256 digest (the
    dedup_exact convention — DuckDB sha256 mirrors it), counts exact;
    doc_share pays one division against the 1-row total.

    Scale: the first exchange carries (digest, 1) pairs — never text;
    the second rolls <= |distinct sizes| keys. Both are map-side
    partial-aggregated; output is tiny (sizes are Zipf-few)."""
    clusters = (
        spark.table("documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    )
    tot = clusters.agg(
        F.sum("cluster_size").cast("bigint").alias("n_total")
    )
    return (
        clusters.crossJoin(F.broadcast(tot))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
            F.round(
                F.sum("cluster_size").cast("double") / F.max("n_total"), 6
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )
