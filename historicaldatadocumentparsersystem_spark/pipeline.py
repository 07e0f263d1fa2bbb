"""Flagship Spark extraction job (SURVEY.md §3.1 re-expression).

Plan shape (SURVEY.md §4.3 target):

    Scan documents (prune cols; part_id IN todo buckets on a resume)
     └─ Exchange shufflepartitionidpassthrough(part_id, N) <- the only
         │                                                   shuffle
         └─ MapInPandas extract_batch()          <- DOM/PDF parse,
             └─ write extracted (partitionBy part_id)   classify, spans
             └─ lineage rows aggregated from the written buckets

The exchange is keyed on the resume bucket the write partitions by, so
task i holds bucket i only and writes one file. On a resume with k of
N buckets left, each bucket is split over N // k tasks by a url-hash
salt, so every task still holds one bucket and all N stay busy.

All per-document logic is Arrow-batched (``mapInPandas``) — no per-row
Python at the DataFrame level (north rule). Skew: part_id is
pmod(xxhash64(url), N) and url is unique, so buckets stay uniform even
when one host owns 30% of urls; host-level aggregations use
``operators.skew.salted_key``.

Reference trace generalized: ``main.py:91-104`` batch walk ->
``base_parser.py:20-50`` per-file parse -> ``batch_processor.py:39-65``
grouped sink. Lineage mirrors the registry status machine
``utils/document.py:29-35`` (Expected→…→ContentExtracted).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import EXTRACTED_SCHEMA, Catalog
from .extractor import extract_document

_IN_COLS = ["url", "warc_ts", "lang", "html", "text", "part_id"]


def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: Arrow batch of documents -> extracted rows.

    Heavy setup (none here — regexes are module-level, compiled once per
    executor at import) follows the reference's lesson NOT to re-init
    per row (tokenizer reloaded per call, ``doc_processor.py:96-99``).
    """
    for pdf_in in batches:
        # .tolist() once per column: per-row .iloc is ~2x slower than the
        # extraction itself; bytes are passed through without copying
        # (extractor accepts any bytes-like)
        payloads = pdf_in["html"].tolist()
        fallbacks = pdf_in["text"].tolist()
        kinds, titles, texts, spans_col = [], [], [], []
        n_blocks, scores, failed, bytes_in = [], [], [], []
        for payload, fb in zip(payloads, fallbacks):
            res = extract_document(payload if payload else None, fb)
            kinds.append(res.doc_kind)
            titles.append(res.title)
            texts.append(res.extracted_text)
            spans_col.append(res.spans_as_dicts())
            n_blocks.append(res.n_blocks)
            scores.append(res.score)
            failed.append(1 if res.failed else 0)
            bytes_in.append(len(payload) if payload else 0)
        yield pd.DataFrame({
            "url": pdf_in["url"],
            "warc_ts": pdf_in["warc_ts"],
            "lang": pdf_in["lang"],
            "doc_kind": kinds,
            "title": titles,
            "extracted_text": texts,
            "spans": spans_col,
            "n_blocks": n_blocks,
            "score": scores,
            "failed": failed,
            "bytes_in": bytes_in,
            "part_id": pdf_in["part_id"],
        })


# ---------------------------------------------------------------------------
# plan builders


def with_part_id(df: DataFrame, num_buckets: int) -> DataFrame:
    """Stable resume bucket: pmod(xxhash64(url), num_buckets).

    Content-defined (not spark_partition_id), so re-runs assign every
    url to the same bucket — the MERGE/resume key (SURVEY.md §2.8).
    """
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets))
        .cast("int"))


def _bucket_task(parts: list[int], num_buckets: int) -> Column:
    """Exchange target of each row: a task that holds one bucket only.

    With every bucket to do, task i is bucket i. With k of
    ``num_buckets`` left, the r-th remaining bucket is split over
    tasks [r*s, (r+1)*s), s = num_buckets // k, by a murmur3 url salt;
    part_id is an xxhash64 residue, so the salt is independent of it.
    """
    if len(parts) == num_buckets:
        return F.col("part_id")
    split = num_buckets // len(parts)
    rank = F.array_position(F.array(*map(F.lit, parts)), F.col("part_id")) - 1
    return (rank * split + F.pmod(F.hash(F.col("url")), F.lit(split))) \
        .cast("int")


def extract_df(docs: DataFrame, num_buckets: int = 64, shuffle: bool = True,
               parts: list[int] | None = None) -> DataFrame:
    """documents DataFrame -> extracted DataFrame (lazy; no side effects).

    Narrow select FIRST so column pruning reaches the scan, then the
    one explicit shuffle, keyed on the resume bucket (``_bucket_task``),
    then the fused Arrow-batched extraction stage. ``parts`` limits
    the plan to those buckets (a resume); None means all of them.
    """
    df = with_part_id(
        docs.select("url", "warc_ts", "lang", "html", "text"), num_buckets)
    parts = list(range(num_buckets)) if parts is None else sorted(parts)
    if len(parts) < num_buckets:
        # IN over a small set: stays a pushable scan predicate
        df = df.where(F.col("part_id").isin(parts))
    if shuffle:
        df = df.repartitionById(num_buckets, _bucket_task(parts, num_buckets))
    return df.select(*_IN_COLS).mapInPandas(extract_batch, EXTRACTED_SCHEMA)


def lineage_from_extracted(extracted: DataFrame, run_id: str,
                           snapshot_id: str, wall_ms: int) -> DataFrame:
    """Per-partition lineage metrics (FIXTURES.md §3) from extracted rows.

    Analog of the reference's document registry INSERTs
    (``pg_vector_db.py:364-409``) with the status enum of
    ``utils/document.py:29-35``; status 'ContentExtracted' marks a
    bucket done for resume.

    A bucket with zero rows in the given frame gets NO lineage row and
    so stays not-done: an empty bucket in this run's input is
    indistinguishable from a partial input (a killed job resumed with
    a fuller snapshot must still process it), so it is retried — a
    cheap no-op when genuinely empty — rather than marked done.
    """
    agg = (extracted
           .groupBy(F.col("part_id").alias("partition_id"))
           .agg(F.count("*").alias("input_rows"),
                F.count("*").alias("output_rows"),
                F.sum("failed").cast("long").alias("failed_rows"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum(F.length("extracted_text")).cast("long")
                 .alias("chars_out")))
    return (agg
            .select(F.lit(run_id).alias("run_id"),
                    F.lit(snapshot_id).alias("snapshot_id"),
                    "partition_id", "input_rows", "output_rows",
                    "failed_rows", "bytes_in", "chars_out",
                    F.lit(wall_ms).cast("long").alias("wall_ms"),
                    F.lit("ContentExtracted").alias("status")))


def run_extraction(spark: SparkSession, docs: DataFrame, out_dir: str,
                   run_id: str, snapshot_id: str = "snap-0",
                   num_buckets: int = 64) -> dict:
    """Execute the flagship job with exact resume-from-checkpoint.

    1. read lineage once (``Catalog.done_buckets``): the buckets
       already ContentExtracted for this snapshot, with their output
       rows, are skipped (partition pruning via part_id predicate)
    2. extract the remaining buckets through ``extract_df`` and write
       parquet partitioned by part_id with dynamic partition overwrite
       (idempotent re-runs); every write task holds one bucket, so it
       writes one file
    3. append lineage rows marking those buckets done, in one
       aggregate-and-write job over a PARTITION-PRUNED read of just
       this run's buckets (part_id IN todo carries to the scan as a
       PartitionFilter), FILTERED to this run's run_id (each extracted
       row carries it): a todo bucket that received zero rows this
       snapshot is not rewritten by dynamic overwrite, so without the
       run filter a previous snapshot's leftover rows in that
       partition would be counted into this snapshot's lineage (and
       the bucket wrongly marked done with foreign data). An
       incremental run never re-scans previously extracted partitions.
    4. commit the manifest. Its totals are summed on the driver from
       step 1's read plus the new lineage rows observed on step 3's
       write; lineage is not read again.
    """
    cat = Catalog(out_dir)
    done = cat.done_buckets(spark, snapshot_id)
    todo_parts = sorted(set(range(num_buckets)) - done.keys())
    t0 = time.monotonic()
    new = {}
    if todo_parts:
        cat.write_extracted(
            extract_df(docs, num_buckets, parts=todo_parts)
            .withColumn("run_id", F.lit(run_id)))
        wall_ms = int((time.monotonic() - t0) * 1000)
        lineage = lineage_from_extracted(
            cat.read_extracted_parts(spark, todo_parts)
            .where(F.col("run_id") == run_id),
            run_id, snapshot_id, wall_ms)
        new = cat.append_lineage(lineage)
    else:
        wall_ms = int((time.monotonic() - t0) * 1000)
    buckets = {**done, **new}
    n_total = sum(buckets.values())
    cat.commit_snapshot(snapshot_id, {
        "run_id": run_id, "rows_total": n_total,
        "num_buckets": num_buckets, "buckets_done": sorted(buckets)})
    return {"rows_written": n_total, "wall_ms": wall_ms,
            "skipped_partitions": len(done)}
