"""Tests of the benchmark's own helpers (no Spark needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [p for p in (BENCH_DIR, ROOT) if p not in sys.path]

import layers  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
N_BUCKETS = 4


def _rows(workload: str, n: int, seed: int = 7) -> list[dict]:
    return [workloads.WORKLOADS[workload].row(i, seed) for i in range(n)]


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generators_are_deterministic_per_seed(workload):
    assert _rows(workload, 60) == _rows(workload, 60)
    assert _rows(workload, 60, seed=8) != _rows(workload, 60)


def test_script_heavy_shape():
    rows = _rows("script-heavy", 50)
    html = [r["html"] for r in rows[:48]]
    assert sum(map(len, html)) / len(html) > 50_000
    assert all(h.count(b"<script") >= 14 for h in html)
    share = sum(map(workloads.inline_code_bytes, html)) / sum(map(len, html))
    assert 0.88 < share < 0.92
    assert {r["url"] for r in rows} == {
        f"https://app{i % 13}.example.net/post/{i}" for i in range(50)}


def test_identical_inputs_give_equal_digests():
    rows = _rows("crawl-mixed", 40)
    first, failed = oracle.digest_rows(rows)
    assert (first, failed) == oracle.digest_rows(rows)
    assert len(set(first.values())) == len(first)
    assert oracle.doc_digest("html", "t", [(0, 1, "body")], 0) == \
        oracle.doc_digest("html", "t", [[0, 1, "body"]], False)
    assert oracle.doc_digest("html", "t", [], 0) != \
        oracle.doc_digest("html", "t", None, 0)


def _write_catalog(root: str, rows: list[dict], alter_url: str | None = None):
    """A committed catalog, laid out as run_extraction writes it, whose
    content is the oracle's extraction of ``rows``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from historicaldatadocumentparsersystem_spark.extractor import \
        extract_document
    by_part: dict[int, list[dict]] = {}
    for i, r in enumerate(rows):
        res = extract_document(r["html"] or None, r["text"])
        text = res.extracted_text
        if r["url"] == alter_url:
            text += " "
        by_part.setdefault(i % N_BUCKETS, []).append({
            "url": r["url"], "doc_kind": res.doc_kind, "extracted_text": text,
            "spans": [dict(zip(("start", "end", "kind"), s))
                      for s in res.spans],
            "failed": int(res.failed)})
    lineage = []
    for part, prow in by_part.items():
        d = os.path.join(root, "extracted", f"part_id={part}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(prow), os.path.join(d, "f.parquet"))
        lineage.append({"snapshot_id": run.SNAPSHOT,
                        "status": "ContentExtracted", "partition_id": part,
                        "output_rows": len(prow),
                        "failed_rows": sum(p["failed"] for p in prow)})
    os.makedirs(os.path.join(root, "lineage"))
    pq.write_table(pa.Table.from_pylist(lineage),
                   os.path.join(root, "lineage", "l.parquet"))
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump({"snapshots": {run.SNAPSHOT: {
            "rows_total": len(rows),
            "buckets_done": list(range(N_BUCKETS))}}}, fh)


def test_check_accepts_oracle_output_and_detects_one_altered_text(tmp_path):
    rows = _rows("crawl-mixed", 30)
    expected, failed = oracle.digest_rows(rows)
    good = tmp_path / "good"
    _write_catalog(str(good), rows)
    assert oracle.check_catalog(str(good), run.SNAPSHOT, expected, failed,
                                N_BUCKETS) == []
    victim = rows[5]["url"]
    bad = tmp_path / "bad"
    _write_catalog(str(bad), rows, alter_url=victim)
    problems = oracle.check_catalog(str(bad), run.SNAPSHOT, expected, failed,
                                    N_BUCKETS)
    assert problems == [f"1 differing urls, e.g. {victim}"]


def test_metric_names_and_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert per_layer == layers.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name in [*e2e, *per_layer, *workloads.WORKLOADS]:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64


def test_resident_skips_jvm_helpers_that_share_its_memory():
    Proc = procstat.Proc
    procs = {1: Proc("python3", 0, 1.0, 100), 2: Proc("java", 1, 5.0, 2000),
             3: Proc("Executor task l", 2, 0.0, 2000),  # JVM vfork, pre-exec
             4: Proc("jspawnhelper", 3, 0.0, 1),
             5: Proc("python", 2, 0.1, 60),             # worker daemon
             6: Proc("python", 5, 2.0, 150)}            # worker
    assert procstat.resident(procs) == {1: 100, 2: 2000, 4: 1, 5: 60, 6: 150}


def test_process_tree_accounting_sees_this_process():
    before = procstat.tree()
    sum(i * i for i in range(200_000))
    after = procstat.tree()
    assert os.getpid() in after
    assert procstat.tree_cpu_delta(before, after) >= 0
    assert sum(procstat.resident(after).values()) > 0
    with procstat.PeakRss() as rss:
        sum(i * i for i in range(200_000))
    assert rss.peak > 0 and rss.cpu_s >= 0
    assert procstat.fault_ms(mb=4) > 0
