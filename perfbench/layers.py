"""Traced run: the wall time of ``run_extraction`` split by module.

Everything is measured from outside the package, in this order:

- one untimed ``run_extraction`` call, so the JVM has compiled the job;
- a cumulative ladder of jobs into the noop sink, each adding one
  layer's public call to the previous rung: scan
  (``sources.read_documents``) -> + exchange (``pipeline.with_part_id``
  + ``repartition(xxhash64(url))``) -> + ``mapInPandas`` over the same
  columns that returns only (url, part_id) -> + ``pipeline.extract_df``.
  Each rung keeps its fastest of two runs, and a layer's time is its
  rung minus the rung before it;
- one plain ``run_extraction`` call whose ``Catalog`` methods are timed
  one by one; the last rung is ``Catalog.write_extracted``, which runs
  the whole plan, so the write's own time is that call minus the
  extract rung;
- one ``run_extraction`` call under the PySpark UDF ``perf`` profiler,
  with Spark's task metrics (shuffle bytes, task durations) read from
  the status store by job group. Its docs per second against the plain
  call's is the tracing overhead;
- a single-core replay of ``extractor.extract_document`` in this process.
"""

from __future__ import annotations

import glob
import os
import pstats
import shutil
import statistics
import sys
import time

import oracle
import procstat
import session

IN_COLS = ["url", "warc_ts", "lang", "html", "text", "part_id"]
KEY_COLS = ["url", "part_id"]
DOC_COLS = ["url", "warc_ts", "lang", "html", "text"]
RUNG_REPS = 2           # ladder rungs keep the fastest of this many runs

# UDF-profile entries reported per layer: metric -> function name.
# Times are inclusive (a function's own time plus its callees'); the
# extractor entries are siblings under one document's extraction, so
# they do not overlap. All are summed over every Python worker.
PROFILE_FUNCS = {
    "extractor.sniff_s": "sniff_kind",
    "extractor.decode_s": "decode_payload",
    "extractor.parse_dom_s": "parse_dom",
    "extractor.mark_dropped_s": "_mark_dropped",
    "extractor.score_s": "score_candidates",
    "extractor.collect_s": "_collect_segments",
    "extractor.pdf_s": "extract_pdf",
    "extractor.spans_dicts_s": "spans_as_dicts",
    "pipeline.arrow_to_pandas_s": "arrow_to_pandas",
}

# per-layer metrics (--trace 1): name -> unit
LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.read_mb": "MB",
    "pipeline.exchange_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.arrow_s": "s",
    "pipeline.arrow_to_pandas_s": "s",
    "extractor.udf_s": "s",
    "extractor.task_skew": "ratio",
    **{m: "s" for m in PROFILE_FUNCS if m.startswith("extractor.")},
    "extractor.doc_ms_p50": "ms",
    "extractor.doc_ms_p99": "ms",
    "extractor.doc_ms_max": "ms",
    "catalog.write_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written_mb": "MB",
    "catalog.lineage_s": "s",
    "catalog.bookkeeping_s": "s",
    "catalog.spark_jobs": "count",
    "trace.docs_per_s_untraced": "docs/s",
    "trace.docs_per_s_traced": "docs/s",
    "trace.overhead_ratio": "ratio",
}

BOOKKEEPING = ("done_partitions", "snapshot_output_rows", "commit_snapshot")
LINEAGE = ("read_extracted_parts", "append_lineage")
CATALOG_CALLS = ("write_extracted",) + LINEAGE + BOOKKEEPING


def key_batches(batches):
    """mapInPandas body that takes every input column and returns only
    the small key columns, as ``extract_batch`` returns only small
    extracted rows: the Arrow boundary crossed the way the real UDF
    crosses it, with no extraction."""
    for b in batches:
        yield b[KEY_COLS]


class JobProbe:
    """Times a block and collects the Spark task metrics of the jobs it
    ran, using a job group named after the block."""

    def __init__(self, spark, name: str) -> None:
        self.spark, self.name = spark, name
        self.wall_s = 0.0
        self.stages: list[dict] = []
        self.jobs = 0

    def __enter__(self) -> "JobProbe":
        self.spark.sparkContext.setJobGroup(self.name, self.name)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if exc_type is None:
            self._collect()

    def _collect(self) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self.name)
        self.jobs = len(job_ids)
        stage_ids = sorted({s for j in job_ids
                            for s in tracker.getJobInfo(j).stageIds})
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is None:
                continue
            tasks = store.taskList(sid, info.currentAttemptId, 1_000_000)
            st = {"stage": sid, "tasks": 0, "input_bytes": 0,
                  "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                  "run_ms": 0, "durations_ms": []}
            for i in range(tasks.size()):
                td = tasks.apply(i)
                if td.duration().isDefined():
                    st["durations_ms"].append(int(td.duration().get()))
                if not td.taskMetrics().isDefined():
                    continue
                m = td.taskMetrics().get()
                st["tasks"] += 1
                st["input_bytes"] += m.inputMetrics().bytesRead()
                sr = m.shuffleReadMetrics()
                st["shuffle_read_bytes"] += (sr.localBytesRead()
                                             + sr.remoteBytesRead())
                st["shuffle_write_bytes"] += \
                    m.shuffleWriteMetrics().bytesWritten()
                st["run_ms"] += m.executorRunTime()
            if st["tasks"]:
                self.stages.append(st)

    def total(self, key: str) -> int:
        return sum(s[key] for s in self.stages)


class CallTimer:
    """Wraps named methods of a class for the duration of a ``with`` block
    and sums the wall time and count of calls to each."""

    def __init__(self, owner, names) -> None:
        self.owner, self.names = owner, names
        self.seconds = {n: 0.0 for n in names}
        self.calls = {n: 0 for n in names}

    def _wrap(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0
                self.calls[name] += 1
        return timed

    def __enter__(self) -> "CallTimer":
        self._orig = {n: getattr(self.owner, n) for n in self.names}
        for n, fn in self._orig.items():
            setattr(self.owner, n, self._wrap(n, fn))
        return self

    def __exit__(self, *exc) -> None:
        for n, fn in self._orig.items():
            setattr(self.owner, n, fn)


def _ladder(spark, corpus) -> dict[str, JobProbe]:
    """Run each rung RUNG_REPS times; returns {rung: fastest probe}."""
    from pyspark.sql import functions as F
    from historicaldatadocumentparsersystem_spark import pipeline, sources
    nb = session.NUM_BUCKETS

    def docs():
        return sources.read_documents(spark, corpus.path).select(*DOC_COLS)

    def exchanged():
        return pipeline.with_part_id(docs(), nb).repartition(
            nb, F.xxhash64(F.col("url"))).select(*IN_COLS)

    rungs = {
        "scan": docs,
        "exchange": exchanged,
        "arrow": lambda: exchanged().mapInPandas(
            key_batches, exchanged().select(*KEY_COLS).schema),
        "extract": lambda: pipeline.extract_df(
            sources.read_documents(spark, corpus.path), nb),
    }
    out = {}
    for name, plan in rungs.items():
        for rep in range(RUNG_REPS):
            with JobProbe(spark, f"rung-{name}-{rep}") as probe:
                plan().write.format("noop").mode("overwrite").save()
            if name not in out or probe.wall_s < out[name].wall_s:
                out[name] = probe
    return out


def scan_bytes(path: str, columns: list[str]) -> int:
    """Compressed bytes of ``columns`` in the parquet files under
    ``path``, from the footers: what a scan of those columns reads."""
    import pyarrow.parquet as pq
    total = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                col = group.column(c)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total


def _profile_seconds(dump_dir: str) -> tuple[dict[str, float], list]:
    """Inclusive seconds per PROFILE_FUNCS entry from dumped profiles,
    and the 15 entries with the most self time."""
    totals = {m: 0.0 for m in PROFILE_FUNCS}
    top = []
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        stats = pstats.Stats(path).stats
        for (fname, _line, func), (_cc, _nc, tt, ct, callers) in \
                stats.items():
            top.append((tt, f"{os.path.basename(fname)}:{func}"))
            for metric, name in PROFILE_FUNCS.items():
                if func != name:
                    continue
                # PySpark's UDF serializer overrides arrow_to_pandas and
                # calls the base method: count only the outermost entry
                if callers and all(c[2] == name for c in callers):
                    continue
                totals[metric] += ct
    return totals, sorted(top, reverse=True)[:15]


def _replay(corpus) -> dict:
    """Single-core extract_document over every document of the corpus."""
    import pyarrow.dataset as ds
    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    cols = ds.dataset(corpus.path, format="parquet").to_table(
        columns=["html", "text"]).to_pydict()
    times_ms = []
    for payload, fb in zip(cols["html"], cols["text"]):
        t0 = time.perf_counter()
        extract_document(payload if payload else None, fb)
        times_ms.append((time.perf_counter() - t0) * 1000)
    q = statistics.quantiles(times_ms, n=100)
    return {"docs": len(times_ms), "p50": statistics.median(times_ms),
            "p99": q[98], "max": max(times_ms)}


def trace(work: str, corpus) -> dict:
    """Traced run; returns the same shape as ``run.measure``."""
    from historicaldatadocumentparsersystem_spark import pipeline, sources
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    import run
    cat_dir = os.path.join(work, "catalog")
    dump_dir = os.path.join(work, "profile")
    spark, _, launch_s, warm = run.start_measured_sessions(
        work, corpus, cat_dir, setups=0)
    try:
        rungs = _ladder(spark, corpus)
        with CallTimer(Catalog, CATALOG_CALLS) as calls:
            untraced = run.timed_pass(spark, corpus, cat_dir, "untraced")
        shutil.rmtree(cat_dir, ignore_errors=True)
        shutil.rmtree(dump_dir, ignore_errors=True)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        with JobProbe(spark, "traced-run") as job:
            res = pipeline.run_extraction(
                spark, sources.read_documents(spark, corpus.path), cat_dir,
                run_id="traced", snapshot_id=run.SNAPSHOT,
                num_buckets=session.NUM_BUCKETS)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.dump(dump_dir, type="perf")
        problems = oracle.check_catalog(cat_dir, run.SNAPSHOT, corpus.digests,
                                        corpus.failed, session.NUM_BUCKETS)
        files = Catalog(cat_dir).data_files()
        out_bytes = sum(os.path.getsize(f) for f in files)
    finally:
        session.stop(spark, shutdown_jvm=True)
        shutil.rmtree(cat_dir, ignore_errors=True)
    for name, found in (("warm", warm["problems"]),
                        ("untraced", untraced["problems"]),
                        ("traced", problems)):
        if found:
            print(f"{name} run: {found}", file=sys.stderr)
    prof, prof_top = _profile_seconds(dump_dir)
    replay = _replay(corpus)

    wall = {k: p.wall_s for k, p in rungs.items()}
    udf_stage = max(rungs["extract"].stages,
                    key=lambda s: s["shuffle_read_bytes"])
    durations = udf_stage["durations_ms"]
    traced_dps = res["rows_written"] / job.wall_s
    m = {
        "sources.scan_s": wall["scan"],
        "sources.read_mb": scan_bytes(corpus.path, DOC_COLS) / 1e6,
        "pipeline.exchange_s": wall["exchange"] - wall["scan"],
        "pipeline.shuffle_write_mb":
            rungs["exchange"].total("shuffle_write_bytes") / 1e6,
        "pipeline.arrow_s": wall["arrow"] - wall["exchange"],
        "extractor.udf_s": wall["extract"] - wall["arrow"],
        "extractor.task_skew": max(durations) / statistics.median(durations),
        "extractor.doc_ms_p50": replay["p50"],
        "extractor.doc_ms_p99": replay["p99"],
        "extractor.doc_ms_max": replay["max"],
        "catalog.write_s": calls.seconds["write_extracted"] - wall["extract"],
        "catalog.files_written": len(files),
        "catalog.bytes_written_mb": out_bytes / 1e6,
        "catalog.lineage_s": sum(calls.seconds[n] for n in LINEAGE),
        "catalog.bookkeeping_s": sum(calls.seconds[n] for n in BOOKKEEPING),
        "catalog.spark_jobs": job.jobs,
        "trace.docs_per_s_untraced": untraced["docs_per_s"],
        "trace.docs_per_s_traced": traced_dps,
        "trace.overhead_ratio": untraced["docs_per_s"] / traced_dps,
        **{metric: prof[metric] for metric in PROFILE_FUNCS},
    }
    failed = sum(bool(p) for p in (warm["problems"], untraced["problems"],
                                   problems))
    return {"attempted": 3, "failed": failed, "metrics": m,
            "detail": {
                "jvm_launch_s": launch_s,
                "rung_wall_s": wall,
                "rung_stages": {k: p.stages for k, p in rungs.items()},
                "udf_stage_task_ms": durations,
                "untraced_run": {**untraced, "catalog_call_s": calls.seconds,
                                 "catalog_calls": calls.calls},
                "traced_run": {"wall_s": job.wall_s, "stages": job.stages,
                               "problems": problems},
                "profile_top_self_s": prof_top,
                "replay": replay,
                "fault_ms": procstat.fault_ms(),
                "bases": {
                    "docs": corpus.n_docs, "html_bytes": corpus.html_bytes,
                    "inline_code_bytes": corpus.inline_code_bytes,
                    "task_skew": "max / median task ms of the UDF stage "
                                 f"({len(durations)} tasks)",
                    "overhead_ratio": "untraced / traced docs_per_s, "
                                      "same session",
                    "profile": "inclusive seconds summed over all Python "
                               "workers, profiled run",
                    "doc_ms": f"{replay['docs']} documents, one core"}}}
