"""Spark pipeline vs single-process oracle: the BASELINE correctness gate.

``python -m pytest -x -q`` requires byte-identical extracted text per
url between the Spark job (mapInPandas over Arrow batches) and the
pure-Python oracle (input_hint invariant).
"""

import json
import os
from collections import Counter

import pytest

from historicaldatadocumentparsersystem_spark import fixtures, pipeline
from historicaldatadocumentparsersystem_spark.extractor import extract_document

N = 200


@pytest.fixture(scope="module")
def docs_df(spark):
    return fixtures.corpus_df(spark, N, num_partitions=8).cache()


def files_per_bucket(out):
    """{part_id: data files} of a catalog's extracted table."""
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    return Counter(int(os.path.basename(os.path.dirname(f)).split("=")[1])
                   for f in Catalog(out).data_files())


def assert_manifest_matches_lineage(spark, out, snapshot_id):
    """The manifest's totals, summed on the driver without reading
    lineage back, equal the committed lineage table's."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    with open(os.path.join(out, "manifest.json")) as fh:
        snap = json.load(fh)["snapshots"][snapshot_id]
    lin = Catalog(out).read_lineage(spark)
    lin = lin.where((lin.snapshot_id == snapshot_id)
                    & (lin.status == "ContentExtracted"))
    assert snap["rows_total"] == lin.agg(F.sum("output_rows")).first()[0]
    assert snap["buckets_done"] == sorted(
        r.partition_id for r in lin.select("partition_id").distinct()
        .collect())


@pytest.fixture(scope="module")
def extracted_rows(docs_df):
    return {r.url: r
            for r in pipeline.extract_df(docs_df, num_buckets=8).collect()}


def test_byte_identical_vs_oracle(extracted_rows):
    rows = fixtures.generate_rows(N)
    assert len(extracted_rows) == N
    for row in rows:
        oracle = extract_document(row["html"], row["text"])
        got = extracted_rows[row["url"]]
        assert got.extracted_text == oracle.extracted_text, row["url"]
        assert got.doc_kind == oracle.doc_kind
        assert got.title == oracle.title
        assert [(s.start, s.end, s.kind) for s in got.spans] == oracle.spans
        assert got.n_blocks == oracle.n_blocks
        assert got.score == pytest.approx(oracle.score)


def test_schema_and_kind_mix(extracted_rows):
    kinds = {r.doc_kind for r in extracted_rows.values()}
    assert kinds == {"html", "pdf", "empty"}
    sample = next(iter(extracted_rows.values()))
    assert set(sample.asDict()) == {
        "url", "warc_ts", "lang", "doc_kind", "title", "extracted_text",
        "spans", "n_blocks", "score", "failed", "bytes_in", "part_id"}


def test_part_id_stable(spark, docs_df):
    a = pipeline.with_part_id(docs_df, 16).select("url", "part_id")
    b = pipeline.with_part_id(docs_df, 16).select("url", "part_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.select("part_id").distinct().count() > 8


def test_run_extraction_and_lineage(spark, docs_df, tmp_path):
    out = str(tmp_path / "cat")
    stats = pipeline.run_extraction(spark, docs_df, out, run_id="r1",
                                    snapshot_id="s1", num_buckets=16)
    assert stats["rows_written"] == N
    assert stats["skipped_partitions"] == 0
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    cat = Catalog(out)
    lin = cat.read_lineage(spark)
    agg = lin.groupBy().sum("input_rows", "failed_rows", "bytes_in").first()
    assert agg["sum(input_rows)"] == N
    assert agg["sum(failed_rows)"] > 0  # truncated pdfs in the corpus
    assert agg["sum(bytes_in)"] > 0
    assert cat.done_partitions(spark, "s1") == set(
        r.part_id for r in cat.read_extracted(spark)
        .select("part_id").distinct().collect())
    # one write task per bucket: exactly one data file in each bucket
    assert files_per_bucket(out) == {p: 1 for p in range(16)}
    assert_manifest_matches_lineage(spark, out, "s1")


def test_run_extraction_spark_jobs(spark, docs_df, tmp_path):
    """Exact Spark-job count of a call, from the status tracker. On a
    fresh catalog: the exchange's map stage and the extracted write,
    then the lineage aggregate's map stage and the lineage write — no
    lineage read at all, before or after. A re-run with every bucket
    done is the one lineage read."""
    docs_df.count()              # materialize the cache outside the count
    sc = spark.sparkContext

    def jobs(group, run_id):
        sc.setJobGroup(group, group)
        try:
            pipeline.run_extraction(spark, docs_df, str(tmp_path / "cat"),
                                    run_id=run_id, snapshot_id="s1",
                                    num_buckets=8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("jobs-fresh", "r1") == 4
    assert jobs("jobs-done", "r2") == 1


def test_corrupt_lineage_raises(spark, docs_df, tmp_path):
    """A lineage table that cannot be read must fail the run, not pass
    for "nothing done" and silently re-extract everything; a missing
    lineage directory is still "nothing done"."""
    from historicaldatadocumentparsersystem_spark.catalog import (
        LINEAGE_SCHEMA, Catalog)
    cat = Catalog(str(tmp_path / "cat"))
    assert cat.read_lineage(spark) is None
    assert cat.done_partitions(spark, "s1") == set()
    cat.append_lineage(spark.createDataFrame(
        [("r", "s1", 0, 5, 5, 0, 100, 50, 1, "ContentExtracted")],
        LINEAGE_SCHEMA).coalesce(1))
    assert cat.done_buckets(spark, "s1") == {0: 5}
    (path,) = [os.path.join(cat.lineage_path, f)
               for f in os.listdir(cat.lineage_path) if f.endswith(".parquet")]
    with open(path, "r+b") as fh:
        fh.truncate(os.path.getsize(path) // 2)
    with pytest.raises(Exception, match="parquet|Parquet"):
        cat.done_partitions(spark, "s1")
    with pytest.raises(Exception, match="parquet|Parquet"):
        pipeline.run_extraction(spark, docs_df, cat.root, run_id="r2",
                                snapshot_id="s1", num_buckets=8)
    assert not os.path.exists(cat.extracted_path)


def test_new_snapshot_never_counts_foreign_rows(spark, docs_df, tmp_path):
    """A later snapshot whose input leaves some buckets empty must not
    credit those buckets with the PREVIOUS snapshot's rows (dynamic
    overwrite leaves untouched partitions on disk; the lineage
    read-back is filtered to this run's run_id)."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog

    out = str(tmp_path / "cat")
    pipeline.run_extraction(spark, docs_df, out, run_id="r1",
                            snapshot_id="s1", num_buckets=8)
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    n_half = half.count()
    stats = pipeline.run_extraction(spark, half, out, run_id="r2",
                                    snapshot_id="s2", num_buckets=8)
    cat = Catalog(out)
    # s2 lineage counts exactly the s2 input — zero foreign rows
    assert stats["rows_written"] == n_half
    assert cat.snapshot_output_rows(spark, "s2") == n_half
    lin = cat.read_lineage(spark)
    s2 = lin.where(lin.snapshot_id == "s2")
    assert s2.agg(F.sum("input_rows")).first()[0] == n_half
    # buckets with no s2 input stay NOT done for s2 (retryable),
    # even though s1 rows still occupy those partitions on disk
    assert cat.done_partitions(spark, "s2") <= {0, 1, 2, 3}
    assert cat.done_partitions(spark, "s1") == set(range(8)) & set(
        r.part_id for r in cat.read_extracted(spark)
        .select("part_id").distinct().collect())


def test_rerun_with_only_empty_buckets_left(spark, docs_df, tmp_path):
    """Re-running the same partial input for one snapshot leaves only
    buckets that get zero rows: the lineage write is empty, and its
    observed metrics must still arrive (the call returns) with the
    manifest's totals unchanged."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "cat")
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    first = pipeline.run_extraction(spark, half, out, run_id="r1",
                                    snapshot_id="s1", num_buckets=8)
    with open(os.path.join(out, "manifest.json")) as fh:
        snap1 = json.load(fh)["snapshots"]["s1"]
    assert snap1["buckets_done"] == [0, 1, 2, 3]

    again = pipeline.run_extraction(spark, half, out, run_id="r2",
                                    snapshot_id="s1", num_buckets=8)
    assert again["skipped_partitions"] == 4
    assert again["rows_written"] == first["rows_written"] == half.count()
    with open(os.path.join(out, "manifest.json")) as fh:
        snap2 = json.load(fh)["snapshots"]["s1"]
    assert snap2 == {**snap1, "run_id": "r2"}
    assert_manifest_matches_lineage(spark, out, "s1")


def test_exact_resume(spark, docs_df, tmp_path):
    """Pre-populate lineage with half the buckets done; run; assert only
    the other half processed and final contents == a clean full run
    (FIXTURES.md §3 exact-resume property)."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark.catalog import Catalog

    # clean full run -> golden
    full_out = str(tmp_path / "full")
    pipeline.run_extraction(spark, docs_df, full_out, run_id="rf",
                            snapshot_id="s1", num_buckets=8)
    golden = sorted(
        (r.url, r.extracted_text, r.doc_kind)
        for r in Catalog(full_out).read_extracted(spark).collect())

    # resumed run: first process only buckets 0-3 (simulate a killed job
    # that completed half the work), then run the full job
    res_out = str(tmp_path / "resumed")
    half = docs_df.transform(lambda d: pipeline.with_part_id(d, 8)) \
                  .where(F.col("part_id") < 4).drop("part_id")
    pipeline.run_extraction(spark, half, res_out, run_id="r-half",
                            snapshot_id="s1", num_buckets=8)
    done_before = Catalog(res_out).done_partitions(spark, "s1")
    assert done_before and done_before <= {0, 1, 2, 3}

    # the remaining buckets spread over all 8 tasks, one bucket per task
    todo = sorted(set(range(8)) - done_before)
    split = 8 // len(todo)
    tasks = (pipeline.extract_df(docs_df, num_buckets=8, parts=todo)
             .select(F.spark_partition_id().alias("task"), "part_id")
             .distinct().collect())
    assert Counter(r.task for r in tasks) == {
        t: 1 for t in range(len(todo) * split)}
    assert Counter(r.part_id for r in tasks) == {p: split for p in todo}

    stats = pipeline.run_extraction(spark, docs_df, res_out, run_id="r-rest",
                                    snapshot_id="s1", num_buckets=8)
    assert stats["skipped_partitions"] == len(done_before)
    resumed = sorted(
        (r.url, r.extracted_text, r.doc_kind)
        for r in Catalog(res_out).read_extracted(spark).collect())
    assert resumed == golden
    # each remaining bucket written by its `split` tasks: <= 8 files
    files = files_per_bucket(res_out)
    assert {p: files[p] for p in todo} == {p: split for p in todo}
    assert_manifest_matches_lineage(spark, res_out, "s1")

    # second full run over the same snapshot is a no-op (all buckets done)
    stats2 = pipeline.run_extraction(spark, docs_df, res_out, run_id="r3",
                                     snapshot_id="s1", num_buckets=8)
    assert stats2["skipped_partitions"] == 8
