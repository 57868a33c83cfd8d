"""Table catalog: parquet-backed tables registered as temp views.

Replaces the reference's three storage systems (MongoDB staging, BigQuery
facts, MySQL checks — SURVEY.md §1.1) with one: parquet tables, optionally
day-partitioned, addressed by name through the Spark catalog so every module
and ad-hoc SQL query sees the same relations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The driver-generated benchmark tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Plain parquet scan: Catalyst pushes filters
    and prunes columns into this scan automatically.

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) across testdata generations. NANOS is rejected by
    Spark's parquet reader (PARQUET_TYPE_ILLEGAL), so we flip the legacy
    nanosAsLong conf first and branch on what actually arrives: raw nano
    longs are rebuilt into a microsecond TIMESTAMP_NTZ in the plan (integer
    ``div`` keeps full precision — nanos exceed 2^53 so float math would
    drift), a plain timestamp is normalized to NTZ, and NTZ passes through.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the LTZ -> NTZ cast below reads the wall-clock in the session
        # timezone; pin it here so a direct load_table call (without
        # register_testdata) yields the same values as the UTC oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        elif ts_type == "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return spark.read.parquet(path)


# last sf_dir registered per live session — registration is
# skipped only when the SAME views would be rebuilt; switching sf_dir on one
# session re-registers (the views would otherwise point at the old data).
_CURRENT: dict[int, str] = {}


def register_testdata(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view (idempotent, memoized).

    Re-registration is memoized per session: schema-footer reads for 10
    tables cost ~1 s each call, which dominates small queries when every
    inventory entry registers defensively.

    Also pins the session timezone to UTC so timestamp semantics match the
    DuckDB oracle regardless of who built the SparkSession.
    """
    if _CURRENT.get(id(spark)) == sf_dir:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name in TESTDATA_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _CURRENT[id(spark)] = sf_dir


class Warehouse:
    """Minimal warehouse over a directory of parquet tables.

    Mirrors the reference's BigQuery dataset/table surface
    (reference: database/bigquery.py:52-79,173-199 — auto-create on connect)
    without DDL: a table exists iff its directory does; writes create it.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """The table's rows; pass its known ``schema`` to skip the job
        that infers one from the parquet footers."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> None:
        """Append/overwrite a table, optionally day-partitioned.

        Maps the reference's WRITE_APPEND / WRITE_TRUNCATE dispositions and
        TimePartitioning (reference: modules/aggregation/custom/
        bigquery_queries.py:89-116) onto parquet partitioned writes.
        """
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(table))

    def register(self, table: str, view_name: str | None = None) -> DataFrame:
        df = self.read(table)
        df.createOrReplaceTempView(view_name or table)
        return df

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
        catalog_name: str | None = None,
    ) -> None:
        """Write a catalog table bucketed (and optionally sorted) on the
        join key — repeated joins/aggregations on that key then run with
        NO exchange on either side (SPJ: storage-partitioned join).

        This is the 100 TB lever for fact-fact joins the driver prompt
        calls out ("bucketing for co-located joins"): pay one shuffle at
        write time, amortize it over every downstream join. Bucketed
        tables live in the session catalog (saveAsTable), not plain
        parquet paths — read them back with ``spark.table``.

        ``catalog_name`` decouples the session-catalog table name from the
        warehouse path ``table`` name, so two Warehouse roots can each hold
        a table of the same name (the catalog namespace is session-global,
        paths are per-root).
        """
        writer = df.write.mode(mode).format("parquet").bucketBy(
            n_buckets, *bucket_cols
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("path", self.path(table)).saveAsTable(catalog_name or table)

    def write_sorted(
        self,
        df: DataFrame,
        table: str,
        sort_cols: list[str],
        mode: str = "overwrite",
        num_files: int | None = None,
    ) -> None:
        """Range-partitioned, sorted-within-partition write — the layout
        lever for selective scans: files cover DISJOINT ranges of
        ``sort_cols`` (repartitionByRange) and rows inside each file are
        ordered (sortWithinPartitions), so parquet footer min/max stats
        let a filtered scan skip whole files and row groups with no index
        structure. At 100 TB this is what makes `WHERE ts BETWEEN ...`
        read 1/1000th of a fact table instead of all of it.
        """
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in sort_cols]
        if num_files:
            out = df.repartitionByRange(num_files, *cols)
        else:
            out = df.repartitionByRange(*cols)
        out.sortWithinPartitions(*cols).write.mode(mode).parquet(self.path(table))

    def write_zordered(
        self,
        df: DataFrame,
        table: str,
        zorder_cols: list[str],
        bits: int = 6,
        mode: str = "overwrite",
        num_files: int | None = None,
    ) -> None:
        """Multi-dimensional data-skipping write — Z-order clustering
        (Morton order), the lakehouse OPTIMIZE ZORDER shape.

        ``write_sorted`` skips brilliantly on its FIRST sort column and
        not at all on the second (lexicographic order leaves every file
        spanning the full range of col 2). Z-ordering interleaves the
        bits of per-column quantile-bucket ranks, so files cover compact
        HYPER-RECTANGLES: a filter on ANY z-ordered column prunes
        ~(1/2^bits)^(1/d) of the files via the same parquet footer
        min/max stats, no index structure.

        Mechanics: per column, ``approxQuantile`` (one Greenwald-Khanna
        pass, driver gets 2^bits boundary literals) defines the bucket
        rank; ranks interleave into the Morton key map-side (unrolled
        shift/mask expression, whole-stage codegen); the key drives
        repartitionByRange + sortWithinPartitions and is dropped before
        the write — layout metadata, never stored. At 100 TB this is one
        extra narrow pass over the write path in exchange for pruned
        scans on every dimension of the key.
        """
        from pyspark.sql import functions as F

        n_buckets = 1 << bits
        qs = [i / n_buckets for i in range(1, n_buckets)]
        work = df
        rank_cols = []
        for c in zorder_cols:
            bounds = df.select(F.col(c).cast("double").alias(c)).approxQuantile(
                c, qs, 0.001
            )
            # strictly increasing boundary list (duplicates collapse when a
            # value dominates a column); rank = count of boundaries <= value
            uniq = sorted(set(bounds))
            arr = "array(" + ", ".join(repr(b) for b in uniq) + ")"
            rank = (
                f"aggregate({arr}, 0, (acc, b) -> "
                f"acc + if(cast({c} as double) >= b, 1, 0))"
            )
            rank_cols.append(F.expr(rank).alias(f"__r_{c}"))
        work = work.select("*", *rank_cols)
        terms = []
        d = len(zorder_cols)
        for j, c in enumerate(zorder_cols):
            for i in range(bits):
                terms.append(
                    f"shiftleft(shiftright(__r_{c}, {i}) & 1, {i * d + j})"
                )
        work = work.withColumn("__z", F.expr(" + ".join(terms)))
        if num_files:
            out = work.repartitionByRange(num_files, F.col("__z"))
        else:
            out = work.repartitionByRange(F.col("__z"))
        (
            out.sortWithinPartitions("__z")
            .drop("__z", *[f"__r_{c}" for c in zorder_cols])
            .write.mode(mode)
            .parquet(self.path(table))
        )

    def replace(self, df: DataFrame, table: str) -> None:
        """Atomically replace ``table`` with ``df`` — safe even when ``df``
        READS from the table being replaced (plain overwrite would delete
        the input out from under its own scan): materialize to a temp dir,
        then swap directories.
        """
        import shutil

        path = self.path(table)
        tmp = path + ".__replace__"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            bak = path + ".__old__"
            os.rename(path, bak)
            os.rename(tmp, path)
            shutil.rmtree(bak)
        else:
            os.rename(tmp, path)

    def compact(
        self, table: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> tuple[int, int]:
        """Small-file compaction: rewrite ``table`` into ~target-sized
        files and atomically swap directories. Incremental appends (cron
        micro-batches, retry re-runs) accrete files; scan planning, task
        scheduling, and footer reads all scale with file count, so
        periodic compaction is standard 100 TB hygiene. Returns
        (files_before, files_after).

        Preserves Hive-style partition directories if present (partition
        columns are re-derived from the read schema).
        """
        import glob
        import math
        import shutil

        path = self.path(table)
        files = [
            f
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)
        ]
        n_before = len(files)
        total = sum(os.path.getsize(f) for f in files)
        n_after = max(1, math.ceil(total / target_file_bytes))
        df = self.spark.read.parquet(path)
        # partition dirs (key=value) present? re-partition the rewrite too
        part_cols = sorted(
            {
                seg.split("=", 1)[0]
                for f in files
                for seg in os.path.relpath(f, path).split(os.sep)[:-1]
                if "=" in seg
            }
        )
        tmp = path + ".__compact__"
        if part_cols:
            # cluster each partition value into one task -> one file per
            # Hive partition directory after the rewrite
            from pyspark.sql import functions as F

            out = df.repartition(n_after, *[F.col(c) for c in part_cols])
            writer = out.write.mode("overwrite").partitionBy(*part_cols)
        else:
            out = df.coalesce(n_after)
            writer = out.write.mode("overwrite")
        writer.parquet(tmp)
        bak = path + ".__old__"
        os.rename(path, bak)
        os.rename(tmp, path)
        shutil.rmtree(bak)
        n_final = len(
            [
                f
                for f in glob.glob(
                    os.path.join(path, "**", "*.parquet"), recursive=True
                )
                if os.path.isfile(f)
            ]
        )
        return n_before, n_final
