"""Synthesize an sf1 testdata directory by tiling sf0.1 ten times.

The driver only ships sf{0.001,0.01,0.1}; the 100 TB design target needs a
local rehearsal one decade up. Each replica r in 0..9 offsets every join
key by r*STRIDE so referential integrity (customer->orders->lineitem,
part/supplier->lineitem) is preserved and key cardinality scales linearly.
Replica 0 is the original data bit-for-bit. Document text gets a per-replica
suffix so replicas are NEAR-duplicates (jaccard just under 1) rather than
exact ones — organic-corpus-shaped stress for the dedup family; embeddings
replicate unchanged (exact ANN ties are fine for a perf rehearsal).

events.parquet must keep its TIMESTAMP(NANOS) physical type (catalog.
load_table's nanosAsLong path expects raw int64 nanos), so that table goes
through pyarrow with version='2.6' instead of DuckDB.

--skew (VERDICT r8 #6): the plain tiling scales cardinality linearly but
keeps keys near-uniform — real corpora have whales. The skewed variant
additionally routes ~20% of all rows to ONE hot key on each join axis,
FK-preserving (the hot key is an existing dimension key):
  - orders:   o_orderkey % 5 = 0  -> o_custkey = 1   (hot customer)
  - lineitem: l_orderkey % 5 = 0  -> l_suppkey = 1   (hot supplier)
  - events:   event_id   % 5 = 0  -> user_id = <min> (hot user)
This stresses customer rollups (rfm/gini/pareto), the supply graph under
a hot node (pagerank/kcore/bellman-ford), and every user-partitioned
journey window (20% of all events in one window partition).

Output: .testdata/sf1 in this checkout (gitignored). Usage, from the
checkout root:
    python tools/make_sf1.py [--skew]
    SPARK_GRAFT_SF_DIR=.testdata/sf1 python bench.py
    SPARK_GRAFT_SF_DIR=.testdata/sf1skew python bench.py
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
SKEW = "--skew" in sys.argv[1:]
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(REPO, ".testdata", "sf1skew" if SKEW else "sf1")
REPLICAS = 10
STRIDE = 100_000_000  # > any key in sf0.1
SKEW_MOD = 5  # 1/5 of rows land on the hot key (~20% mass)

# per-table key-offset columns; None = copy unchanged (fixed dims)
OFFSETS: dict[str, list[str] | None] = {
    "region": None,
    "nation": None,
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def tile_sql(table: str, keys: list[str]) -> str:
    cols = [
        c[0]
        for c in duckdb.sql(
            f"DESCRIBE SELECT * FROM '{SRC}/{table}.parquet'"
        ).fetchall()
    ]
    # --skew: (selector column, victim column, hot key expression)
    skew_rule = {
        "orders": ("o_orderkey", "o_custkey", "1"),
        "lineitem": ("l_orderkey", "l_suppkey", "1"),
    }.get(table) if SKEW else None
    sel = []
    for c in cols:
        if skew_rule and c == skew_rule[1]:
            sent, _victim, hot = skew_rule
            sel.append(
                f"CASE WHEN {sent} % {SKEW_MOD} = 0 THEN {hot} "
                f"ELSE {c} + r.r * {STRIDE} END AS {c}"
            )
        elif c in keys:
            sel.append(f"{c} + r.r * {STRIDE} AS {c}")
        elif table == "documents" and c == "text":
            # near-dup replicas: tiny tail perturbation, replica 0 untouched
            sel.append("CASE WHEN r.r = 0 THEN text ELSE text || ' r' || r.r END AS text")
        else:
            sel.append(c)
    return (
        f"SELECT {', '.join(sel)} FROM '{SRC}/{table}.parquet', "
        f"range(0, {REPLICAS}) r(r)"
    )


def tile_events() -> None:
    t = pq.read_table(f"{SRC}/events.parquet")
    # testdata generations have shipped ts as NANOS or MICROS; catalog.
    # load_table handles both, and version=2.6 below preserves whichever
    # physical type arrives
    assert t.schema.field("ts").type in (pa.timestamp("ns"), pa.timestamp("us"))
    parts = []
    for r in range(REPLICAS):
        if r == 0:
            parts.append(t)
            continue
        parts.append(
            t.set_column(
                t.schema.get_field_index("event_id"),
                "event_id",
                pa.compute.add(t["event_id"], r * STRIDE),
            ).set_column(
                t.schema.get_field_index("user_id"),
                "user_id",
                pa.compute.add(t["user_id"], r * STRIDE),
            )
        )
    out = pa.concat_tables(parts)
    if SKEW:
        # hot user: event_id % SKEW_MOD == 0 -> min source user_id
        import numpy as np

        ev = out["event_id"].to_numpy(zero_copy_only=False)
        uid = out["user_id"].to_numpy(zero_copy_only=False).copy()
        hot = int(t["user_id"].to_numpy(zero_copy_only=False).min())
        uid[ev % SKEW_MOD == 0] = hot
        out = out.set_column(
            out.schema.get_field_index("user_id"),
            pa.field("user_id", out.schema.field("user_id").type),
            pa.array(uid, type=out.schema.field("user_id").type),
        )
    # version 2.6 keeps timestamp[ns] as physical NANOS like the source
    pq.write_table(out, f"{DST}/events.parquet", version="2.6")


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    for table, keys in OFFSETS.items():
        dst = f"{DST}/{table}.parquet"
        if keys is None:
            duckdb.sql(
                f"COPY (SELECT * FROM '{SRC}/{table}.parquet') TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            duckdb.sql(f"COPY ({tile_sql(table, keys)}) TO '{dst}' (FORMAT PARQUET)")
        n = duckdb.sql(f"SELECT COUNT(*) FROM '{dst}'").fetchone()[0]
        print(f"{table}: {n} rows")
    tile_events()
    n = duckdb.sql(f"SELECT COUNT(*) FROM '{DST}/events.parquet'").fetchone()[0]
    print(f"events: {n} rows")


if __name__ == "__main__":
    main()
