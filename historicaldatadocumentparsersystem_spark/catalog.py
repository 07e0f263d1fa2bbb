"""Iceberg-style table emulation: partitioned parquet + manifest + lineage.

No Iceberg runtime jar ships in this environment (SURVEY.md §7.0), so
the catalog isolates the table layout behind a tiny API that a real
Iceberg catalog can replace 1:1:

- ``extracted/`` : parquet partitioned by ``part_id`` with dynamic
  partition overwrite -> re-processing a bucket atomically replaces it
  (MERGE-on-processed-partitions semantics); columns ``TABLE_SCHEMA``,
  the one declaration of its on-disk format. ``run_extraction`` writes
  each bucket from one task, so a full run leaves one file per bucket.
- ``lineage/``   : append-only parquet of per-partition metrics rows
  (FIXTURES.md §3), read with the declared ``LINEAGE_SCHEMA``.
  ``done_buckets`` is the resume checkpoint: one read per run gives
  the done buckets and their output rows; ``done_partitions`` and
  ``snapshot_output_rows`` are views of it. ``append_lineage``
  returns the rows it wrote, observed on the write, so a run commits
  without reading lineage back. A missing table is "nothing done";
  a table that cannot be read raises.
- ``manifest.json`` : snapshot bookkeeping (ids passed in by the caller,
  never generated from the clock — determinism rule).

Reference analog: the Postgres ``document_list`` registry
(``pg_vector_db.py:364-409``) + status enum ``utils/document.py:29-35``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

SPAN_TYPE = StructType([
    StructField("start", LongType(), False),
    StructField("end", LongType(), False),
    StructField("kind", StringType(), False),
])

# rows of pipeline.extract_df
EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("lang", StringType(), True),
    StructField("doc_kind", StringType(), False),
    StructField("title", StringType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("spans", ArrayType(SPAN_TYPE, False), True),
    StructField("n_blocks", IntegerType(), False),
    StructField("score", DoubleType(), False),
    StructField("failed", IntegerType(), False),   # 1 if fallback-on-error
    StructField("bytes_in", LongType(), False),    # lineage metric
    StructField("part_id", IntegerType(), False),  # stable resume bucket
])

# the extracted table as run_extraction writes it: each row carries its run
TABLE_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [StructField("run_id", StringType(), False)])

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("snapshot_id", StringType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("input_rows", LongType(), False),
    StructField("output_rows", LongType(), False),
    StructField("failed_rows", LongType(), False),
    StructField("bytes_in", LongType(), False),
    StructField("chars_out", LongType(), False),
    StructField("wall_ms", LongType(), False),
    StructField("status", StringType(), False),
])


def _sum_by_bucket(rows) -> dict[int, int]:
    """(partition_id, output_rows) pairs -> output rows per bucket."""
    out: dict[int, int] = {}
    for part, n in rows:
        out[part] = out.get(part, 0) + n
    return out


class Catalog:
    def __init__(self, root: str) -> None:
        self.root = root
        self.extracted_path = os.path.join(root, "extracted")
        self.lineage_path = os.path.join(root, "lineage")
        self.manifest_path = os.path.join(root, "manifest.json")
        os.makedirs(root, exist_ok=True)

    # -- extracted table ----------------------------------------------------
    def write_extracted(self, df: DataFrame) -> None:
        """Write partitioned by part_id; dynamic overwrite = idempotent.

        No post-write count: row totals come from the lineage rows
        (``append_lineage``) — an incremental run must never pay a
        full-table scan just for bookkeeping.
        """
        spark = df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy("part_id") \
            .parquet(self.extracted_path)

    def read_extracted(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.extracted_path)

    def read_extracted_parts(self, spark: SparkSession,
                             parts: list[int]) -> DataFrame:
        """Partition-pruned read of specific buckets: ``part_id IN``
        lands as a PartitionFilter on the parquet scan (pinned by
        tests/test_plans.py), so an incremental lineage pass touches
        only this run's buckets — never the whole 100 TB table. Read
        with ``TABLE_SCHEMA``, so no footer-reading inference job."""
        return (spark.read.schema(TABLE_SCHEMA).parquet(self.extracted_path)
                .where(F.col("part_id").isin(list(parts))))

    # -- lineage table ------------------------------------------------------
    def append_lineage(self, df: DataFrame) -> dict[int, int]:
        """Append lineage rows; returns the output rows per partition
        of the ContentExtracted rows written, observed on the write
        itself (no read-back)."""
        obs = Observation()
        done = F.col("status") == "ContentExtracted"
        df.observe(obs, F.collect_list(F.when(done, F.struct(
            "partition_id", "output_rows"))).alias("rows")) \
            .write.mode("append").parquet(self.lineage_path)
        return _sum_by_bucket(obs.get["rows"])

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        """The lineage table, read with ``LINEAGE_SCHEMA``; None only
        when no lineage was ever written. A corrupt table is never
        taken as "nothing done" (that would silently re-extract
        everything): the first action over it raises."""
        if not os.path.isdir(self.lineage_path):
            return None
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

    def done_buckets(self, spark: SparkSession,
                     snapshot_id: str) -> dict[int, int]:
        """Buckets already ContentExtracted for this snapshot (resume),
        each with its output rows: one lineage read, one Spark job.
        Each bucket is written exactly once per snapshot (done buckets
        are skipped on resume), so the summed rows equal the table's
        count without scanning the table."""
        lin = self.read_lineage(spark)
        if lin is None:
            return {}
        return _sum_by_bucket(
            lin.where((lin.snapshot_id == snapshot_id)
                      & (lin.status == "ContentExtracted"))
            .select("partition_id", "output_rows").collect())

    def done_partitions(self, spark: SparkSession,
                        snapshot_id: str) -> set[int]:
        """Buckets already ContentExtracted for this snapshot."""
        return set(self.done_buckets(spark, snapshot_id))

    def snapshot_output_rows(self, spark: SparkSession,
                             snapshot_id: str) -> int:
        """Total rows extracted for a snapshot, from lineage."""
        return sum(self.done_buckets(spark, snapshot_id).values())

    # -- manifest -----------------------------------------------------------
    def commit_snapshot(self, snapshot_id: str, meta: dict) -> None:
        manifest = {"snapshots": {}}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fh:
                manifest = json.load(fh)
        manifest["snapshots"][snapshot_id] = meta
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic swap

    # -- maintenance ----------------------------------------------------------
    def data_files(self) -> list[str]:
        """Parquet data files of the extracted table (maintenance
        metric; excludes _SUCCESS/committed markers)."""
        out = []
        for root, _, names in os.walk(self.extracted_path):
            out += [os.path.join(root, n) for n in names
                    if n.endswith(".parquet")]
        return out

    def compact_extracted(self, spark: SparkSession,
                          target_rows_per_file: int = 1_000_000) -> dict:
        """Small-files compaction — the maintenance job every
        partitioned 100 TB table needs: each incremental/streaming
        write drops a few files per ``part_id``, and a year of runs
        turns every scan into an open()-bound crawl over millions of
        tiny files. This rewrites each partition into
        ceil(rows / target_rows_per_file) files, preserving rows,
        schema, and the part_id layout (resume/lineage untouched —
        compaction is physical, not logical).

        How: per-partition row counts come from ONE count aggregate
        over the partition column (parquet footer metadata — no data
        columns read), broadcast back as a files-per-partition plan;
        rows are salted deterministically (xxhash64(url) % n_files)
        and shuffled once on (part_id, salt) so each target file is
        written by exactly one task. Spark refuses to overwrite a
        path it is reading, so the rewrite stages into a sibling dir
        and swaps — the step a real Iceberg catalog does atomically
        by committing a new snapshot pointer (this emulation's swap
        is rmtree+rename; the manifest stays the source of truth).

        Returns {"files_before", "files_after", "rows"}.
        """
        import shutil

        before = len(self.data_files())
        df = self.read_extracted(spark)
        counts = (df.groupBy("part_id")
                  .agg(F.count("*").cast("long").alias("__rows")))
        plan = counts.select(
            "part_id", "__rows",
            F.greatest(
                F.expr(f"cast(ceil(__rows / {target_rows_per_file}"
                       f".0e0) AS int)"),
                F.lit(1)).alias("__n_files"))
        salted = (df.join(F.broadcast(plan), "part_id")
                  .withColumn("__salt",
                              F.pmod(F.xxhash64("url"),
                                     F.col("__n_files")).cast("int")))
        n_rows = int(plan.agg(F.sum("__rows")).first()[0] or 0)
        staged = self.extracted_path + ".compact-staging"
        shutil.rmtree(staged, ignore_errors=True)
        (salted.repartition("part_id", "__salt")
         .drop("__rows", "__n_files", "__salt")
         .write.mode("overwrite").partitionBy("part_id")
         .parquet(staged))
        # Swap non-destructively: move the live dir ASIDE first, then
        # promote staging, then drop the old copy — every crash point
        # leaves a recoverable directory (live, or .compact-old +
        # staging), unlike rmtree-then-rename which has a window where
        # the table path simply doesn't exist.
        old = self.extracted_path + ".compact-old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(self.extracted_path, old)
        os.replace(staged, self.extracted_path)
        shutil.rmtree(old)
        return {"files_before": before,
                "files_after": len(self.data_files()),
                "rows": n_rows}
