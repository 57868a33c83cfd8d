"""Graph-based ANN: cell-partitioned navigable-small-world beam search.

The graph-index family (NSW — Malkov et al. 2014; HNSW — Malkov &
Yashunin 2016) was the one major production-ANN family the engine's
LSH/IVF/PQ/SQ8/refine inventory lacked (the round-7 review's stretch
item). The reference system (mindshape-GmbH/dawis) has no similarity
search at all — this extends the engine's beyond-reference LLM-pipeline
surface, alongside operators/similarity.py.

Design — why this is NOT textbook HNSW, and why that is the point:

* **Hierarchy → IVF entry points.** HNSW's upper layers exist to find a
  good entry point in O(log n) hops; the layered graph is built by
  SEQUENTIAL insertion, which neither shards nor replays
  deterministically. Here the trained IVF coarse quantizer
  (operators/similarity.py train_kmeans — deterministic init + 6-digit
  rounding) supplies entry points instead: per cell, the member nearest
  its centroid. A query probes its ``n_probe`` nearest cells' entries
  and beam-searches from there — the hierarchy's job, done by a
  structure the engine already trains, distributes, and replays in SQL.

* **Construction is cell-scoped, never corpus all-pairs.** The base
  graph connects each node to its ``m`` nearest neighbors WITHIN its
  quantizer cell (symmetrized), so the kNN build is a self-join keyed
  on cid — each cell an independent bounded block, the same
  block-routing discipline as operators/pairs.capped_blocks. At 100 TB each
  cell's subgraph builds in parallel from its own partition; cross-cell
  reachability comes from probing several cells, not from cross-cell
  edges. (Production HNSW shards the same way: per-shard graphs +
  fan-out search, cf. Vespa/Milvus segment indexes.)

* **Search is unrolled beam expansion** (the pagerank discipline:
  fixed iterations as deterministic DataFrame joins). Each hop joins
  the frontier with the edge list (ids only), hydrates candidate
  vectors by id, scores 6-digit-rounded cosine, and keeps the top
  ``beam`` per query with id-ascending tie-break. Every intermediate is
  therefore a pure function of (corpus, params) — the DuckDB oracle
  replays construction AND all hops bit-for-bit.

Plan shape: edge build shuffles (cid)-keyed vector pairs inside cells
only; search exchanges carry (query_id, node_id[, cosine]) triples plus
bounded candidate hydration (≤ beam·(m·2+1) rows per query per hop);
the query side broadcasts. Nothing in the search path scans the corpus
beyond the id→vector hydration joins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import vectors as V
from dawis_spark.operators.similarity import _ivf_assign, top_k, train_kmeans


def _cos6(a: str, b: str) -> F.Column:
    """6-digit-rounded cosine, NULL (zero-norm) coalesced below any valid
    score — same determinism contract as the IVF affinity path."""
    return F.coalesce(
        F.round(F.expr(V.cosine_null(a, b, "spark")), 6),
        F.lit(-2.0),
    )


def nsw_edges(
    assigned: DataFrame,
    m: int,
    n_salts: int = 16,
) -> DataFrame:
    """Symmetrized within-cell kNN edge list from an ``_ivf_assign``
    output ``(id, vec, cid)``: for each node, its ``m`` highest-cosine
    cellmates (ties id-ascending), then both directions, distinct.

    The self-join keys on cid — bounded blocks from the trained
    quantizer, so the build is Σ|cell|² work sharded per cell, never
    N². A bare cid join caps parallelism at the CELL COUNT (the sf1
    rehearsal caught exactly this: 8 cells → 2 busy tasks → the scoring
    fold serialized), so the src side is salted by ``hash(id) %
    n_salts`` and the dst side replicated per salt — the
    salted_skew_join recipe (operators/skew.py): pair work fans out to
    cells × salts tasks while the replicated side ships only
    |corpus| × n_salts (id, vec) rows. At deployment scale cells are
    additionally SIZED to a block cap via n_centroids, like the
    near-dup family's max_block_rows routing.
    """
    from pyspark.sql import Window

    a = assigned.select(
        F.col("id").alias("src"), F.col("vec").alias("s_vec"), "cid"
    ).withColumn("__salt", F.pmod(F.hash("src"), F.lit(n_salts)))
    b = (
        assigned.select(
            F.col("id").alias("dst"), F.col("vec").alias("d_vec"), "cid"
        )
        .crossJoin(
            F.broadcast(
                assigned.sparkSession.range(n_salts).select(
                    F.col("id").cast("int").alias("__salt")
                )
            )
        )
    )
    # explicit REPARTITION_BY_NUM on the join keys: AQE's size-based
    # coalescing would collapse this exchange (the vector rows are tiny
    # — megabytes — but each post-join row fans out into a |cell|-sized
    # scoring fold, the classic small-input/heavy-compute mismatch AQE
    # cannot see); BY_NUM exchanges are exempt from coalescing
    n_parts = 8 * n_salts
    scored = (
        a.repartition(n_parts, "cid", "__salt")
        .join(b.repartition(n_parts, "cid", "__salt"), ["cid", "__salt"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", _cos6("s_vec", "d_vec").alias("c"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    knn = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= m)
        .select("src", "dst")
    )
    return knn.union(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def nsw_entry_points(assigned: DataFrame, cent_rows) -> DataFrame:
    """(cid, node_id): per cell, the member with the highest 6-digit
    cosine to its centroid (ties id-ascending) — the deterministic
    stand-in for HNSW's top-layer entry node."""
    from pyspark.sql import Window

    spark = assigned.sparkSession
    # a pandas frame enters through Arrow as a local relation
    cents = spark.createDataFrame(
        pd.DataFrame(
            [(int(c), [float(x) for x in v]) for c, v in cent_rows],
            columns=["cid", "cvec"],
        ),
        "cid int, cvec array<double>",
    )
    w = Window.partitionBy("cid").orderBy(F.desc("aff"), F.asc("id"))
    return (
        assigned.join(F.broadcast(cents), "cid")
        .select("cid", "id", _cos6("vec", "cvec").alias("aff"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 1)
        .select("cid", F.col("id").alias("node_id"))
    )


def nsw_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    beam: int = 10,
    hops: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """NSW beam search: probe ``n_probe`` cells' entry points, then
    ``hops`` rounds of expand-neighbors → score → keep top ``beam``
    per query; finally top-``k`` excluding self.

    EAGER like ivf_ann_topk when ``centroids`` is not supplied (trains
    the coarse quantizer on call). ``beam`` should exceed ``k`` (the
    final self-exclusion eats one slot). Output:
    (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.sql import Window

    assert hops >= 1, "beam search needs at least one scored hop"
    if centroids is None:
        centroids = train_kmeans(
            corpus, id_col, vec_col, k=n_centroids, iterations=1
        )
    cent_rows = sorted((int(c), list(v)) for c, v in centroids)
    if not cent_rows:
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    # the edge list is re-read by EVERY beam hop and the assignment
    # feeds three consumers (edges a/b sides, entries) — without a
    # persist the unrolled search recomputes the whole cell-scoped
    # graph build per hop (the pagerank lesson, operators/graph.py:62)
    assigned = _ivf_assign(
        corpus, id_col, vec_col, cent_rows, "id", "vec", 1, use_numpy=True
    ).persist()
    edges = nsw_edges(assigned, m).persist()
    entries = nsw_entry_points(assigned, cent_rows)
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    node_vecs = corpus.select(
        F.col(id_col).alias("node_id"), F.col(vec_col).alias("n_vec")
    )
    q_cells = _ivf_assign(
        queries, id_col, vec_col, cent_rows, "query_id", "q_vec", n_probe
    ).select("query_id", "cid")
    # persisted: every hop references its frontier in BOTH union legs, so
    # an unpersisted unrolled search re-evaluates hop h-1 twice per hop —
    # a 2^hops lineage blowup (the pagerank lesson, squared). Each hop's
    # beam is <= queries x beam rows; the initial frontier is the same
    # scale.
    frontier = (
        q_cells.join(entries, "cid")
        .select("query_id", "node_id")
        .distinct()
        .persist()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("node_id")
    )
    scored = None
    for _ in range(hops):
        cand = frontier.union(
            frontier.join(edges, frontier["node_id"] == edges["src"]).select(
                "query_id", F.col("dst").alias("node_id")
            )
        )
        # dedup AFTER hydration+scoring: a node reached along several
        # paths hydrates more than once (bounded — <= beam·(m·2+1) rows
        # per query either way), but its cosine is a deterministic
        # function of the (query, node) pair, so dropDuplicates removes
        # identical rows — the same set the old pre-hydration distinct
        # produced. repartition by query_id FIRST: the dedup aggregate is
        # satisfied by hash(query_id) and the beam-rank window reuses the
        # same partitioning — ONE exchange for both (the multiprobe
        # trick, guide §2.4), and the pre-hydration (query_id, node_id)
        # distinct exchange disappears outright.
        scored = (
            cand.join(node_vecs, "node_id")
            .join(F.broadcast(qv), "query_id")
            .select("query_id", "node_id", _cos6("q_vec", "n_vec").alias("cosine"))
            .repartition("query_id")
            .dropDuplicates()
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= beam)
            .select("query_id", "node_id", "cosine")
            .persist()
        )
        frontier = scored.select("query_id", "node_id")
    return top_k(
        scored.filter(F.col("query_id") != F.col("node_id")).select(
            "query_id", F.col("node_id").alias("neighbor_id"), "cosine"
        ),
        k,
    )
