"""operators/pairs.capped_blocks: the block router's boundary, through
both operators that route blocks by size."""

import pytest

from dawis_spark.operators.dedup import ngram_jaccard_pairs
from dawis_spark.operators.similarity import embedding_near_dup_pairs

CAP = 3
TEXT = "the quick brown fox jumps over the lazy dog again and again today"


def _ngram(spark, rows):
    df = spark.createDataFrame(
        [(i, TEXT, g) for i, g in rows], "id bigint, text string, g string"
    )
    return ngram_jaccard_pairs(df, "id", "text", "g", max_block_rows=CAP)


def _embedding(spark, rows):
    df = spark.createDataFrame(
        [(i, [1.0, i * 0.01, 0.0, 0.0], g) for i, g in rows],
        "id bigint, vec array<float>, g string",
    )
    return embedding_near_dup_pairs(
        df, "id", "vec", "g", threshold=0.5, max_block_rows=CAP, n_planes=2, dim=4
    )


@pytest.mark.parametrize("pairs_of", [_ngram, _embedding], ids=["ngram", "embedding"])
def test_block_of_cap_rows_routes_exact_and_one_more_routes_lsh(spark, pairs_of):
    rows = [(i, "at_cap") for i in range(CAP)]
    rows += [(10 + i, "over_cap") for i in range(CAP + 1)]
    out = pairs_of(spark, rows).collect()
    methods = {}
    for r in out:
        methods.setdefault(r["g"], set()).add(r["pair_method"])
    assert methods == {"at_cap": {"exact"}, "over_cap": {"lsh"}}
    # the exact route pairs every two rows of its block
    assert sorted((r["id_a"], r["id_b"]) for r in out if r["g"] == "at_cap") == [
        (0, 1), (0, 2), (1, 2)
    ]
