"""Property tests: Spark translations vs a faithful Python model of the
reference's row-wise semantics (SURVEY §5.4)."""

import operator
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dawis_spark.operators.checks import translate_comparison
from dawis_spark.operators.enrich import match_enrich

_OPS = {
    "==": operator.eq,
    "!=": operator.ne,
    ">": operator.gt,
    "<": operator.lt,
    ">=": operator.ge,
    "<=": operator.le,
}


def _reference_parse_comparison(comparison: str, variables: dict):
    """utilities/parsing.py:23-55, minus the str round-trip (we feed
    numerics directly; the reference stringifies then re-parses ints and
    floats, which is identity for the values we generate)."""
    tokens = comparison.format(**variables).split()
    vals = []
    for t in tokens:
        try:
            vals.append(int(t))
            continue
        except ValueError:
            pass
        try:
            vals.append(float(t))
            continue
        except ValueError:
            pass
        vals.append(t)
    if len(vals) == 1:
        return vals[0] if isinstance(vals[0], bool) else None
    return _OPS[vals[1]](vals[0], vals[2])


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    v=st.integers(min_value=-1000, max_value=1000),
    lit=st.integers(min_value=-1000, max_value=1000),
    op=st.sampled_from(sorted(_OPS)),
)
def test_dsl_matches_reference_numeric(spark, v, lit, op):
    template = f"{{v}} {op} {lit}"
    expected = _reference_parse_comparison(template, {"v": v})
    df = spark.createDataFrame([{"v": v}])
    got = df.select(translate_comparison(template).alias("r")).first()["r"]
    assert got == expected


def _reference_match(rows, expressions, fallback):
    """google_search_console.py op:335-386 row-wise model."""
    out = []
    for value in rows:
        label = ""
        for expr in expressions:
            if "regex" in expr:
                m = re.search(expr["regex"], value)
                if m:
                    label = expr["output"]
                    for g in re.findall(r"\$(\d)", label):
                        try:
                            label = label.replace("$" + g, m.group(int(g)))
                        except (IndexError, re.error):
                            pass
            else:
                for lab, patterns in expr["csv"].items():
                    for p in patterns:
                        if p in value:
                            label = lab
        if fallback and label == "":
            label = fallback
        out.append(label)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.sampled_from(["small", "red", "ring", "bolt", "gear", "zz"]),
        min_size=1,
        max_size=4,
    ),
)
def test_match_enrich_matches_reference(spark, words):
    value = " ".join(words)
    expressions = [
        {"regex": r"^(small|red) (\w+)", "output": "sz_$2"},
        {"regex": "ring", "output": "ring_item"},
        {"csv": {"fastener": ["bolt"], "tool": ["gear"]}},
    ]
    expected = _reference_match([value], expressions, "other")
    df = spark.createDataFrame([(value,)], "s string")
    got = [
        r["lab"]
        for r in match_enrich(df, "s", "lab", expressions, fallback="other").collect()
    ]
    assert got == expected


@given(
    n_tokens=st.integers(min_value=0, max_value=40),
    chunk=st.integers(min_value=2, max_value=12),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_documents_covers_every_token_once_minimum(
    spark, n_tokens, chunk, overlap_frac
):
    """Coverage invariants of fixed-stride chunking for arbitrary sizes:
    every token appears in at least one window, window offsets advance by
    exactly stride, and only the last window may be short."""
    from dawis_spark.operators.corpus import chunk_documents

    overlap = min(chunk - 1, int(chunk * overlap_frac))
    stride = chunk - overlap
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        (r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk, overlap=overlap
        ).collect()
    )
    assert rows, "a document never yields zero chunks"
    covered = set()
    for cid, n, textout in rows:
        toks = textout.split() if textout else []
        assert len(toks) == n
        assert toks == [f"t{i}" for i in range(cid * stride, cid * stride + n)]
        covered.update(range(cid * stride, cid * stride + n))
        if cid < rows[-1][0]:
            assert n == chunk  # only the last window may be short
    assert covered == set(range(n_tokens))


@given(
    minute=st.integers(0, 59),
    hour=st.integers(0, 23),
    step=st.integers(1, 30),
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_cron_field_membership_model(minute, hour, step):
    """cron_matches agrees with the naive membership model for exact
    values, steps, and ranges on the minute/hour fields."""
    import datetime as dt

    from dawis_spark.runner import cron_matches

    ts = dt.datetime(2026, 5, 4, hour, minute)
    assert cron_matches(f"{minute} {hour} * * *", ts)
    assert cron_matches(f"*/{step} * * * *", ts) == (minute % step == 0)
    lo, hi = sorted((minute, (minute + 17) % 60))
    assert cron_matches(f"{lo}-{hi} * * * *", ts) == (lo <= minute <= hi)


@given(
    n_rows=st.integers(min_value=1, max_value=40),
    n_values=st.integers(min_value=1, max_value=5),
    cap=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_capped_dup_diff_is_prefix_of_parity(spark, n_rows, n_values, cap):
    """The bounded capped plan must agree with the parity plan truncated
    to its first `cap` other-ids, for arbitrary group shapes (including
    hot values and singleton groups) — the invariant that lets the capped
    form ship as the default."""
    from dawis_spark.operators.dedup import exact_duplicate_groups

    rows = [(i, f"v{i % n_values}") for i in range(n_rows)]
    df = spark.createDataFrame(rows, "id bigint, v string")
    parity = {
        (r["id"], r["v"]): r["diff"].split(", ") if r["diff"] else []
        for r in exact_duplicate_groups(df, "id", "v").collect()
    }
    capped = {
        (r["id"], r["v"]): r["diff"].split(", ") if r["diff"] else []
        for r in exact_duplicate_groups(df, "id", "v", max_diff_ids=cap).collect()
    }
    assert set(parity) == set(capped)
    for key, full in parity.items():
        assert capped[key] == full[:cap], key


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefgh0123456789", min_size=1, max_size=12),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_mixed_hash_dual_rendering_agrees(values):
    """The uniformized hash (_mixed_sql) must produce identical values in
    Spark's and DuckDB's renderings — the property every deterministic
    sample/bloom/classifier oracle stands on."""
    import duckdb

    from dawis_spark.functions.text import char_hash
    from dawis_spark.operators.sketches import _mixed_sql

    duck_expr = _mixed_sql(char_hash("v", "duck"), "duck")
    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {duck_expr} FROM (SELECT unnest(?) AS v)", [values]
        ).fetchall()
    ]
    # pure-python replay of the spark rendering's math (same integers)
    MOD = 1_000_000_007
    out = []
    for v in values:
        h = 0
        for c in v:
            h = (h * 31 + ord(c)) % MOD
        for a, b in ((48271, 11), (69621, 137)):
            h = (h * h + a * h + b) % MOD
        out.append(h)
    assert duck == out


@given(
    xs=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_cusum_closed_form_equals_recursion_property(xs):
    # S_t = max(0, S_{t-1} + x_t)  ==  cum_t - min(0, running_min(cum))
    from itertools import accumulate

    s_rec, rec = 0, []
    for x in xs:
        s_rec = max(0, s_rec + x)
        rec.append(s_rec)
    cums = list(accumulate(xs))
    closed = [c - min(0, min(cums[: i + 1])) for i, c in enumerate(cums)]
    assert rec == closed


@given(
    strings=st.lists(
        st.text(alphabet="abcdefgh -", min_size=1, max_size=12),
        min_size=1, max_size=12, unique=True,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_deletion_variants_dual_rendering_agrees(spark, strings):
    import duckdb

    from dawis_spark.functions.text import deletion_variants

    sp = {
        r["t"]: sorted(r["v"])
        for r in spark.createDataFrame([(s,) for s in strings], "t string")
        .selectExpr("t", f"{deletion_variants('t', 2, 'spark')} as v")
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE s(t VARCHAR)")
    con.executemany("INSERT INTO s VALUES (?)", [(x,) for x in strings])
    du = {
        t: sorted(v)
        for t, v in con.execute(
            f"SELECT t, {deletion_variants('t', 2, 'duck')} FROM s"
        ).fetchall()
    }
    assert sp == du


@given(
    keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1, max_size=50, unique=True,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_int_uniformizer_dual_rendering_agrees(spark, keys):
    import duckdb

    from dawis_spark.operators.sketches import _int_mix

    expr = _int_mix("k * 31 + 4001")
    sp = {
        r["k"]: r["u"]
        for r in spark.createDataFrame([(k,) for k in keys], "k bigint")
        .selectExpr("k", f"{expr} as u")
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in keys])
    du = dict(con.execute(f"SELECT k, {expr} FROM t").fetchall())
    assert sp == du


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=30
    ),
    desc=st.booleans(),
    nb=st.sampled_from([1, 2, 7, 64]),
)
def test_range_partitioned_ranks_property(spark, vals, desc, nb):
    """For ANY integer multiset (ties, negatives, whale magnitudes),
    bucket counts, and flag combination, ranks AND running sums equal
    the global-window form bit-for-bit — the 'identical by construction'
    contract under hypothesis instead of fixed seeds."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dawis_spark.operators.sketches import range_partitioned_ranks

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k int, v long"
    ).repartition(3)
    ranked, n, totals = range_partitioned_ranks(
        df, "v", ["k"], desc=desc, n_buckets=nb,
        out_col="r", sum_cols=[("cum", "v")],
    )
    assert (n, totals) == (len(vals), [sum(vals)])
    got = {r["k"]: (r["r"], r["cum"]) for r in ranked.collect()}
    order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
    w = Window.orderBy(*order)
    want = {
        r["k"]: (r["r"], r["cum"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("r"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        ).collect()
    }
    assert got == want
