"""htmlheadings operation — <h1> count assertion.

Reference: modules/operation/custom/htmlheadings.py:55-92 (A3): count the
<h1> elements per document, valid iff count == asserted count; value is the
observed count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions.html import html_facts
from dawis_spark.modules import register
from dawis_spark.modules._common import emit_checks


@register("htmlheadings")
def evaluate(docs: DataFrame, config: dict) -> DataFrame:
    """config: {"count_headline_h1": {"assert": 1}}"""
    want = int(config["count_headline_h1"]["assert"])
    counted = docs.withColumn("__n", F.size(html_facts(F.col("body")).h1s))
    return emit_checks(
        counted,
        "htmlheadings-count_headline_h1",
        valid=F.col("__n") == F.lit(want),
        value=F.col("__n"),
        error=F.when(F.col("__n") != want, F.lit("unexpected h1 count")).otherwise(
            F.lit("")
        ),
    )
