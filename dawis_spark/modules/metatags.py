"""metatags operation — title/description/canonical checks over staged HTML.

Reference: modules/operation/custom/metatags.py. Checks (per urlset config):
  has_title / has_description        — non-empty tag exists == assert
                                       (:115-164 / :423-468; error 'title
                                       missing' when absent and not valid)
  is_title_empty / is_description_empty — emptiness == assert (:166-207)
  has_title_changed / has_description_changed — latest snapshot vs previous
                                       (J4/W2, :209-275/:517-583; diff =
                                       previous value)
  has_title_duplicates / has_description_duplicates — same value on >1 URL
                                       within the urlset (A2, :277-377;
                                       diff = other URLs comma-joined)
  multiple tags -> 'metatags-problem-multi-title/-description' (:89-113)
  canonical self-reference           — canonical href == own URL (:740-770)

Spark shape (SURVEY §3.3): ONE ``html_facts`` pandas-UDF pass parses each
document; every check is a leg of one projection over that extraction
(the change and duplicate checks read window columns of the same frame),
and ``emit_check_legs`` flattens the legs into the checks rows. The plan
is linear, so no check re-runs the parse and nothing is cached.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dawis_spark.functions.html import html_facts
from dawis_spark.functions.urls import assemble_url
from dawis_spark.modules import register
from dawis_spark.modules._common import check_leg, emit_check_legs


def _tag_checks(
    df: DataFrame, tag: str, vals: Column, config: dict
) -> tuple[DataFrame, list[Column]]:
    """Shared title/description check family over ``vals``, the
    extracted tag texts. Returns ``df`` with the window columns the
    configured checks read, and the checks' legs."""
    cfg = config.get(tag, {})
    legs: list[Column] = []
    multi = F.size(vals) > 1
    single = ~multi
    nonempty = F.array_remove(F.transform(vals, lambda t: F.trim(t)), "")
    # last non-empty value wins, like the reference's overwrite loop
    value = F.when(F.size(nonempty) > 0, F.element_at(nonempty, -1)).otherwise(
        F.lit("")
    )

    if "problem_multi" in cfg:
        legs.append(
            check_leg(
                f"metatags-problem-multi-{tag}",
                valid=F.lit(False),
                value=F.size(vals),
                error=F.lit(f"multiple {tag} tags"),
                when=multi,
            )
        )
    if f"has_{tag}" in cfg:
        want = bool(cfg[f"has_{tag}"])
        exists = F.size(nonempty) > 0
        legs.append(
            check_leg(
                f"metatags-has_{tag}",
                valid=exists == F.lit(want),
                value=value,
                error=F.when(
                    (F.size(vals) == 0) & (exists != F.lit(want)),
                    F.lit(f"{tag} missing"),
                ).otherwise(F.lit("")),
                when=single,
            )
        )
    if f"is_{tag}_empty" in cfg:
        want = bool(cfg[f"is_{tag}_empty"])
        empty = F.size(nonempty) == 0
        legs.append(
            check_leg(
                f"metatags-is_{tag}_empty",
                valid=empty == F.lit(want),
                value=value,
                when=single,
            )
        )
    changed = f"has_{tag}_changed" in cfg
    duplicates = f"has_{tag}_duplicates" in cfg
    if not (changed or duplicates):
        return df, legs

    # Both read each URL's single-tag snapshots in date order: one window
    # gives a snapshot's predecessor and whether a later one exists.
    # Multi-tag rows fall into partitions of their own and emit neither.
    name = {c: f"__{c}_{tag}" for c in ("multi", "v", "prev", "latest", "g")}
    v, prev, latest, group = (F.col(name[c]) for c in ("v", "prev", "latest", "g"))
    by_url = Window.partitionBy("urlset", "__u", name["multi"]).orderBy("date")
    df = (
        df.withColumn(name["multi"], multi)
        .withColumn(name["v"], value)
        .withColumn(name["prev"], F.lag(v).over(by_url))
        .withColumn(name["latest"], F.lead(F.lit(True)).over(by_url).isNull())
    )
    if changed:
        want = bool(cfg[f"has_{tag}_changed"])
        legs.append(
            check_leg(
                f"metatags-has_{tag}_changed",
                valid=(v != prev) == F.lit(want),
                value=v,
                diff=prev,
                when=single & latest & prev.isNotNull(),
            )
        )
    if duplicates:
        want = bool(cfg[f"has_{tag}_duplicates"])
        # each URL's newest non-empty value, grouped by value per urlset
        newest = single & latest & (v != "")
        df = df.withColumn(
            name["g"],
            F.sort_array(
                F.collect_list("__u").over(Window.partitionBy("urlset", v, newest))
            ),
        )
        others = F.array_join(F.filter(group, lambda u: u != F.col("__u")), ", ")
        dup = others != ""
        legs.append(
            check_leg(
                f"metatags-has_{tag}_duplicates",
                valid=dup == F.lit(want),
                value=v,
                diff=others,
                error=F.when(dup, F.lit(f"{tag} duplicates in url-set detected"))
                .otherwise(F.lit("")),
                when=newest,
            )
        )
    return df, legs


def _canonical_checks(
    df: DataFrame, config: dict, probes: DataFrame | None
) -> tuple[DataFrame, list[Column]]:
    """The full canonical family (reference metatags.py:688-807).

    get_canonical_href (:688-698) iterates every <link rel=canonical> and
    keeps the LAST href ('' when none) — replicated as element_at(-1).

    - has_canonical (:700-738): valid only when a canonical EXISTS and the
      assert is True (the reference's inner-if quirk: asserting False can
      never pass — valid = exists AND assert); error 'no canonical' when
      absent.
    - canonical_is_self_referencing (:740-770): valid = exists AND
      href == own URL AND assert; error always ''.
    - canonical_href_200 (:772-807): the live GET probe routed through the
      connector harness — ``probes`` is a (href, status_code) DataFrame
      produced OUTSIDE the lazy DAG (live connector or FixtureConnector in
      tests; side-effecting HTTP never hides inside a transformation).
      valid = (status == 200) == assert; error when a href probes non-200.
      A document emits one row per probe of its href, and one with no
      status when its href was not probed.
    """
    canonical_cfg = config["canonical"]
    if canonical_cfg is True:  # legacy single-check grammar
        canonical_cfg = {"canonical_is_self_referencing": True}
    canonicals = F.col("__f.canonicals")
    exists = F.size(canonicals) > 0
    df = df.withColumn(
        "__href", F.when(exists, F.element_at(canonicals, -1)).otherwise(F.lit(""))
    )
    href = F.col("__href")
    legs: list[Column] = []
    if "has_canonical" in canonical_cfg:
        want = bool(canonical_cfg["has_canonical"])
        legs.append(
            check_leg(
                "metatags-has_canonical",
                valid=exists & F.lit(want),
                value=href,
                error=F.when(~exists, F.lit("no canonical")).otherwise(F.lit("")),
            )
        )
    if "canonical_is_self_referencing" in canonical_cfg:
        want = bool(canonical_cfg["canonical_is_self_referencing"])
        legs.append(
            check_leg(
                "metatags-canonical_is_self_referencing",
                valid=exists & (href == F.col("__u")) & F.lit(want),
                value=href,
                error=F.when(~exists, F.lit("canonical missing")).otherwise(
                    F.lit("")
                ),
            )
        )
    if "canonical_href_200" in canonical_cfg:
        if probes is None:
            raise ValueError(
                "canonical_href_200 needs probe results: pass "
                "probes=(href, status_code) from the connector harness"
            )
        want = bool(canonical_cfg["canonical_href_200"])
        probed = probes.groupBy(F.col("href").alias("__href")).agg(
            F.collect_list(F.struct(F.col("status_code").alias("s"))).alias(
                "__probes"
            )
        )
        df = df.join(probed, "__href", "left")

        def href_200(status: Column) -> Column:
            ok200 = exists & (status == 200)
            return check_leg(
                "metatags-canonical_href_200",
                valid=ok200 == F.lit(want),
                value=href,
                error=F.when(
                    exists & ~F.coalesce(status == 200, F.lit(False)),
                    F.lit("href in canonical not valid"),
                ).otherwise(F.lit("")),
            )

        legs.append(
            F.when(F.col("__probes").isNull(), href_200(F.lit(None))).otherwise(
                F.flatten(F.transform("__probes", lambda p: href_200(p["s"])))
            )
        )
    return df, legs


@register("metatags")
def evaluate(docs: DataFrame, config: dict, probes: DataFrame | None = None) -> DataFrame:
    df = docs.withColumn("__f", html_facts(F.col("body"))).withColumn(
        "__u", assemble_url(F.col("url"))
    )
    legs: list[Column] = []
    for tag, field in (("title", "titles"), ("description", "descriptions")):
        df, tag_legs = _tag_checks(df, tag, F.col(f"__f.{field}"), config)
        legs += tag_legs
    if "canonical" in config:
        df, canonical_legs = _canonical_checks(df, config, probes)
        legs += canonical_legs
    if not legs:
        raise ValueError("metatags: no checks configured")
    return emit_check_legs(df, legs)
