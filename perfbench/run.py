"""End-to-end benchmark of ``pipeline.run_extraction``.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl-mixed --seed 1 --seconds 10 --trace 0

Each run builds (or reuses) the seeded corpus and its oracle digests,
starts Spark, makes one untimed ``run_extraction`` call to warm the
JVM, measures set-up three times, then times whole ``run_extraction``
calls into a fresh catalog until ``--seconds`` have passed (at least
three calls). Every committed catalog is checked
against the oracle. ``--trace 1`` runs the layer ladder instead and
reports per-layer metrics (see ``layers.py``).

The last stdout line is one JSON object: correct, attempted, failed and
metrics. A detailed plain-JSON artifact is written under
``.perfbench_work/results/``. The exit code is non-zero when any output
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import procstat
import session

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "historicaldatadocumentparsersystem_spark"
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
SNAPSHOT = "snap-1"
SETUPS = 3           # set-up samples per run (median reported)
MIN_PASSES = 3       # timed run_extraction calls per run, at least

# end-to-end metrics (--trace 0): name -> unit
E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "failed_doc_ratio": "ratio",
    "out_bytes_per_in_byte": "ratio",
}


def warm_up(spark, warm_path: str) -> None:
    """First extraction job of a session: spawns the Python workers and
    imports the extractor in each."""
    from historicaldatadocumentparsersystem_spark import pipeline, sources
    docs = sources.read_documents(spark, warm_path)
    pipeline.extract_df(docs, session.CORES).write.format("noop") \
        .mode("overwrite").save()


def start_measured_sessions(work: str, corpus, cat_dir: str,
                            setups: int = SETUPS):
    """Launch the JVM and make one checked, untimed ``run_extraction``
    call in it, so the JVM has loaded and compiled the job; then time
    ``setups`` fresh sessions in it, each with its warm-up job. Returns
    the last session, the set-up samples with their host-weather tags,
    the JVM launch time and the untimed call."""
    t0 = time.perf_counter()
    spark = session.start(work)
    launch_s = time.perf_counter() - t0
    samples = []
    try:
        warm = timed_pass(spark, corpus, cat_dir, "warm")
        for _ in range(setups):
            session.stop(spark)
            t0 = time.perf_counter()
            spark = session.start(work)
            warm_up(spark, corpus.warm_path)
            samples.append({"s": time.perf_counter() - t0,
                            "fault_ms": procstat.fault_ms()})
    except BaseException:
        session.stop(spark, shutdown_jvm=True)
        raise
    return spark, samples, launch_s, warm


def timed_pass(spark, corpus, cat_dir: str, run_id: str) -> dict:
    """One run_extraction call into a fresh catalog, with its checks."""
    from historicaldatadocumentparsersystem_spark import pipeline, sources
    from historicaldatadocumentparsersystem_spark.catalog import Catalog
    import oracle
    shutil.rmtree(cat_dir, ignore_errors=True)
    before = procstat.tree()
    # the memory sampler runs only during the call; its own CPU is
    # taken out of the tree's
    with procstat.PeakRss() as rss:
        t0 = time.perf_counter()
        res = pipeline.run_extraction(
            spark, sources.read_documents(spark, corpus.path), cat_dir,
            run_id=run_id, snapshot_id=SNAPSHOT,
            num_buckets=session.NUM_BUCKETS)
        wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_delta(before, procstat.tree()) - rss.cpu_s
    t0 = time.perf_counter()
    problems = oracle.check_catalog(cat_dir, SNAPSHOT, corpus.digests,
                                    corpus.failed, session.NUM_BUCKETS)
    check_s = time.perf_counter() - t0
    lin = oracle.lineage_totals(os.path.join(cat_dir, "lineage"), SNAPSHOT)
    out_bytes = sum(os.path.getsize(f) for f in Catalog(cat_dir).data_files())
    n = res["rows_written"]
    return {"wall_s": wall, "cpu_s": cpu, "sampler_cpu_s": rss.cpu_s,
            "docs": n, "peak_rss_mb": rss.peak / 2**20,
            "rss_at_peak": rss.at_peak,
            "docs_per_s": n / wall, "cpu_s_per_kdoc": cpu / (n / 1000),
            "failed_rows": lin["failed_rows"],
            "failed_doc_ratio": lin["failed_rows"] / n,
            "out_bytes": out_bytes,
            "out_bytes_per_in_byte": out_bytes / corpus.html_bytes,
            "problems": problems, "check_s": check_s,
            "fault_ms": procstat.fault_ms()}


def measure(work: str, corpus, seconds: float) -> dict:
    """Untraced run: set-up samples, then timed passes."""
    cat_dir = os.path.join(work, "catalog")
    spark, setups, launch_s, warm = start_measured_sessions(work, corpus,
                                                             cat_dir)
    passes, errors = [], 0
    try:
        t_start = time.perf_counter()
        while (len(passes) + errors < MIN_PASSES
               or time.perf_counter() - t_start < seconds):
            k = len(passes) + errors
            try:
                p = timed_pass(spark, corpus, cat_dir, f"pass-{k}")
            except Exception:
                traceback.print_exc()
                errors += 1
                continue
            passes.append(p)
            if p["problems"]:
                print(f"pass {k}: {p['problems']}", file=sys.stderr)
    finally:
        session.stop(spark, shutdown_jvm=True)
        shutil.rmtree(cat_dir, ignore_errors=True)
    checked = [warm] + passes
    failed = errors + sum(1 for p in checked if p["problems"])
    metrics = {}
    if passes:
        med = {k: statistics.median(p[k] for p in passes)
               for k in ("docs_per_s", "cpu_s_per_kdoc", "failed_doc_ratio",
                         "out_bytes_per_in_byte")}
        metrics = {
            "setup_s": statistics.median(x["s"] for x in setups),
            "docs_per_s": med["docs_per_s"],
            "cpu_s_per_kdoc": med["cpu_s_per_kdoc"],
            # a fixed number of calls: the JVM's resident set grows from
            # call to call, so a peak over all calls would grow with speed
            "peak_rss_mb": max(p["peak_rss_mb"] for p in passes[:MIN_PASSES]),
            "failed_doc_ratio": med["failed_doc_ratio"],
            "out_bytes_per_in_byte": med["out_bytes_per_in_byte"],
        }
    return {"attempted": len(checked) + errors, "failed": failed,
            "metrics": metrics,
            "detail": {"setup_samples_s": setups, "jvm_launch_s": launch_s,
                       "warm_pass": warm, "passes": passes,
                       "bases": {"docs": corpus.n_docs,
                                 "html_bytes": corpus.html_bytes,
                                 "inline_code_bytes":
                                     corpus.inline_code_bytes,
                                 "oracle_failed_docs": corpus.failed}}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    session.prepare_env(WORK_DIR, [ROOT, BENCH_DIR])
    t0 = time.perf_counter()
    corpus = workloads.prepare(WORK_DIR, args.workload, args.seed)
    prep_s = time.perf_counter() - t0
    if args.trace:
        import layers
        result = layers.trace(WORK_DIR, corpus)
        units = layers.LAYER_UNITS
    else:
        result = measure(WORK_DIR, corpus, args.seconds)
        units = E2E_UNITS
    if result["metrics"] and result["metrics"].keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(result['metrics'])} do not "
                           f"match the declared {sorted(units)}")
    correct = result["failed"] == 0 and result["attempted"] > 0
    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "correct": correct, "corpus_prepare_s": prep_s,
                "session_conf": session.conf(WORK_DIR),
                "num_buckets": session.NUM_BUCKETS, **result}
    out_dir = os.path.join(WORK_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": correct, "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result["metrics"].items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
