"""Output check: committed catalog versus the Spark-free extractor.

The digest of a document is a hash of ``(doc_kind, extracted_text,
spans, failed)``. The expected digests come from
``extractor.extract_document`` run in plain Python over the generated
rows; the actual ones are read back from the committed ``extracted``
table with pyarrow. Lineage and manifest totals are checked against the
corpus as well.
"""

from __future__ import annotations

import hashlib
import json
import os

from historicaldatadocumentparsersystem_spark.extractor import \
    extract_document


def doc_digest(doc_kind: str, text: str | None, spans, failed) -> str:
    """Stable digest of one extracted document; ``spans`` is a sequence
    of (start, end, kind) triples, or None for a null spans value."""
    canon = [doc_kind, text,
             None if spans is None else [list(s) for s in spans],
             int(failed)]
    blob = json.dumps(canon, ensure_ascii=False, separators=(",", ":"))
    return hashlib.blake2b(blob.encode("utf-8"), digest_size=16).hexdigest()


def digest_rows(rows: list[dict]) -> tuple[dict, int]:
    """Oracle digests {url: digest} and failed count for corpus rows,
    calling the extractor exactly as the pipeline's UDF does."""
    out, failed = {}, 0
    for r in rows:
        payload = r["html"]
        res = extract_document(payload if payload else None, r["text"])
        out[r["url"]] = doc_digest(res.doc_kind, res.extracted_text,
                                   res.spans, res.failed)
        failed += int(res.failed)
    return out, failed


def table_digests(extracted_dir: str) -> tuple[dict, list[str]]:
    """Digests of a committed ``extracted`` table, plus duplicate urls."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    table = ds.dataset(extracted_dir, format="parquet",
                       partitioning="hive").to_table(
        columns=["url", "doc_kind", "extracted_text", "spans", "failed"])
    # spans as flat columns plus per-row lengths: building one dict per
    # span through to_pylist() costs more than the rest of the check
    spans = table.column("spans").combine_chunks()
    lengths = pc.list_value_length(spans).to_pylist()
    flat = spans.flatten()
    triples = list(zip(flat.field("start").to_pylist(),
                       flat.field("end").to_pylist(),
                       flat.field("kind").to_pylist()))
    out, dups, pos = {}, [], 0
    for url, kind, text, n, failed in zip(
            table.column("url").to_pylist(),
            table.column("doc_kind").to_pylist(),
            table.column("extracted_text").to_pylist(), lengths,
            table.column("failed").to_pylist()):
        row_spans = None
        if n is not None:
            row_spans, pos = triples[pos:pos + n], pos + n
        if url in out:
            dups.append(url)
        out[url] = doc_digest(kind, text, row_spans, failed)
    return out, dups


def lineage_totals(lineage_dir: str, snapshot_id: str) -> dict:
    """Sum of output and failed rows, and the buckets marked done."""
    import pyarrow.dataset as ds
    cols = ds.dataset(lineage_dir, format="parquet").to_table().to_pydict()
    out = {"output_rows": 0, "failed_rows": 0, "buckets": set()}
    for snap, status, part, rows, failed in zip(
            cols["snapshot_id"], cols["status"], cols["partition_id"],
            cols["output_rows"], cols["failed_rows"]):
        if snap == snapshot_id and status == "ContentExtracted":
            out["output_rows"] += rows
            out["failed_rows"] += failed
            out["buckets"].add(part)
    return out


def check_catalog(root: str, snapshot_id: str, expected: dict,
                  expected_failed: int, num_buckets: int) -> list[str]:
    """Every way the committed catalog at ``root`` differs from the
    oracle; an empty list means the output is correct."""
    problems = []
    got, dups = table_digests(os.path.join(root, "extracted"))
    if dups:
        problems.append(f"{len(dups)} duplicate urls, e.g. {dups[0]}")
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [u for u in expected.keys() & got.keys() if got[u] != expected[u]]
    for label, urls in (("missing", missing), ("unexpected", extra),
                        ("differing", wrong)):
        if urls:
            problems.append(f"{len(urls)} {label} urls, e.g. {min(urls)}")
    n = len(expected)
    lin = lineage_totals(os.path.join(root, "lineage"), snapshot_id)
    if lin["output_rows"] != n:
        problems.append(f"lineage output_rows {lin['output_rows']} != {n}")
    if lin["failed_rows"] != expected_failed:
        problems.append(f"lineage failed_rows {lin['failed_rows']} "
                        f"!= {expected_failed}")
    with open(os.path.join(root, "manifest.json")) as fh:
        snap = json.load(fh)["snapshots"].get(snapshot_id, {})
    if snap.get("rows_total") != n:
        problems.append(f"manifest rows_total {snap.get('rows_total')} != {n}")
    if snap.get("buckets_done") != list(range(num_buckets)):
        problems.append(f"manifest buckets_done {snap.get('buckets_done')} "
                        f"!= all {num_buckets}")
    return problems
