"""Seeded document corpora for the benchmark workloads, cached as parquet.

Each workload is a row generator ``row(i, seed) -> dict`` with the
documents-table schema (url, warc_ts, html, text, lang). The same
(workload, seed) always yields the same rows. A corpus is built once, in
a process pool, before Spark starts: each task writes one parquet part
file and, in the same pass, computes the oracle digest of every document
(see ``oracle``), so the timed runs only ever see a generated parquet
table.
"""

from __future__ import annotations

import datetime as _dt
import functools
import hashlib
import json
import os
import random
import re
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

from historicaldatadocumentparsersystem_spark import fixtures

import oracle

# documents per parquet part file: several scan splits per corpus, and a
# part file is the unit one worker process builds
ROWS_PER_PART = 250
WARM_ROWS = 64          # rows of the warm-up table (first rows of part 0)
KEEP_CORPORA = 3        # cached corpora kept per workload (newest first)
POOL_PROCS = 4          # corpus worker processes

_EPOCH = _dt.datetime(2025, 1, 1)
_WORDS = ("data spark query engine table scan filter join merge sort "
          "window group batch stream page crawl corpus token text content "
          "extract layout span block score density link article main "
          "history archive record document parse render fetch index").split()


def crawl_row(i: int, seed: int) -> dict:
    """The repository's own corpus mix at page scale 8 (~12 KB pages):
    55% simple, 15% link-list, 10% malformed, 10% PDF, 10% garbage."""
    return fixtures.make_row(i, seed, scale=8)


@functools.lru_cache(maxsize=4)
def _site_assets(seed: int) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """Per-seed shared script and stylesheet blocks: the framework and
    analytics code that every page of a site inlines."""
    rng = random.Random(f"script-heavy-assets:{seed}")
    scripts = []
    for b in range(24):
        parts = []
        while sum(map(len, parts)) < rng.randint(3000, 6000):
            fn = f"f{b}_{len(parts)}"
            parts.append(
                f"function {fn}(a,b){{var c=a.{rng.choice(_WORDS)}||"
                f"{rng.randint(0, 99999)};if(c<b){{return "
                f"{rng.choice(_WORDS)}(c*{rng.randint(2, 97)})}}"
                f"return b.map(function(x){{return x+\"{rng.choice(_WORDS)}"
                f"\"}})}}")
        scripts.append("".join(parts))
    styles = []
    for b in range(8):
        rules = []
        while sum(map(len, rules)) < rng.randint(2500, 4500):
            rules.append(
                f".{rng.choice(_WORDS)}-{rng.randint(0, 999)}>"
                f"{rng.choice(['div', 'p', 'a', 'span'])}{{margin:"
                f"{rng.randint(0, 32)}px;color:#{rng.randint(0, 0xffffff):06x}}}")
        styles.append("".join(rules))
    return tuple(scripts), tuple(styles)


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(6, 16))]
    return " ".join(words).capitalize() + "."


_UTILITY = ("flex items-center justify-between px-3 py-2 text-sm "
            "font-medium text-gray-700 hover:bg-gray-50 rounded-md "
            "md:block lg:px-4 truncate").split()


def _classes(rng: random.Random) -> str:
    """A utility-CSS class list: markup bytes that add no elements."""
    return " ".join(rng.sample(_UTILITY, rng.randint(4, 8)))


def _state_blob(rng: random.Random, i: int) -> str:
    """Page-unique hydration state (the ``__NEXT_DATA__`` shape)."""
    items = ",".join(
        f'{{"id":{rng.randint(0, 10**9)},"slug":"{rng.choice(_WORDS)}-'
        f'{rng.randint(0, 9999)}","title":"{rng.choice(_WORDS)} '
        f'{rng.choice(_WORDS)}","score":{rng.random():.6f}}}'
        for _ in range(rng.randint(200, 300)))
    return f'{{"page":{i},"props":{{"items":[{items}]}}}}'


def script_row(i: int, seed: int) -> dict:
    """Synthetic byte-bound stress page of ~100 KB: about 90% of its
    bytes are inline <script>/<style> around a short article, nav and
    footer. The share is set by this generator, not taken from a crawl
    measurement. One row in 50 is a PDF and one a truncated PDF (a
    failed fetch), taken from the crawl mix, so every layer sees work."""
    url = f"https://app{i % 13}.example.net/post/{i}"
    ts = _EPOCH + _dt.timedelta(seconds=53 * i)
    if i % 50 >= 48:
        # crawl-mix row classes: i % 100 == 85 is a PDF, 96 a truncated one
        row = fixtures.make_row(100 * (i // 50) + (85 if i % 50 == 48 else 96),
                                seed)
        return {**row, "url": url, "warc_ts": ts}
    rng = random.Random(f"script-heavy:{seed}:{i}")
    scripts, styles = _site_assets(seed)
    head_js = "".join(f"<script>{s}</script>"
                      for s in rng.sample(scripts, rng.randint(14, 22)))
    css = "".join(f"<style>{s}</style>"
                  for s in rng.sample(styles, rng.randint(2, 3)))
    article = "".join(
        "<p>" + " ".join(_sentence(rng) for _ in range(rng.randint(2, 4)))
        + "</p>" for _ in range(rng.randint(2, 4)))
    nav = "".join(f'<a class="{_classes(rng)}" href="/{rng.choice(_WORDS)}/'
                  f'{j}">{rng.choice(_WORDS)}</a>' for j in range(30))
    footer = "".join(f'<li><a class="{_classes(rng)}" href="/'
                     f'{rng.choice(_WORDS)}-{j}">{rng.choice(_WORDS)} '
                     f'{rng.choice(_WORDS)}</a></li>' for j in range(60))
    page = (
        f"<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>Post {i}</title>{css}{head_js}</head><body>"
        f"<nav>{nav}</nav><main><article><h1>{_sentence(rng)}</h1>"
        f"{article}</article></main><footer><ul>{footer}</ul></footer>"
        f"<script id=\"__STATE__\" type=\"application/json\">"
        f"{_state_blob(rng, i)}</script></body></html>")
    return {"url": url, "warc_ts": ts, "html": page.encode("utf-8"),
            "text": f"fallback text for post {i}",
            "lang": ("en", "fr", "es", "ja")[i % 4]}


_INLINE_CODE = re.compile(rb"<(script|style)\b[^>]*>.*?</\1>", re.S)


def inline_code_bytes(html: bytes | None) -> int:
    """Bytes of inline <script> and <style> elements, tags included."""
    return sum(len(m.group(0)) for m in _INLINE_CODE.finditer(html or b""))


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    row: object          # row(i, seed) -> dict


# why each workload exists: BENCHMARK.json and README.md
WORKLOADS = {
    w.name: w for w in (
        Workload("crawl-mixed", 1200, crawl_row),
        Workload("script-heavy", 600, script_row),
    )
}


@dataclass(frozen=True)
class Corpus:
    path: str            # parquet directory of the documents table
    warm_path: str       # small table for the warm-up job
    n_docs: int
    html_bytes: int
    inline_code_bytes: int   # of html_bytes, inside <script>/<style>
    digests: dict        # url -> oracle digest
    failed: int          # oracle failed-document count


def _source_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cache_key(workload: str, seed: int) -> str:
    """Cache directory name: workload, seed and a hash of every source
    file that decides the corpus or its digests (this generator, the
    package fixtures and the extractor)."""
    from historicaldatadocumentparsersystem_spark import extractor
    ext_dir = os.path.dirname(extractor.__file__)
    srcs = [__file__, oracle.__file__, fixtures.__file__]
    srcs += [os.path.join(ext_dir, n) for n in os.listdir(ext_dir)
             if n.endswith(".py")]
    return f"{workload}-s{seed}-{_source_hash(srcs)}"


def _build_part(workload: str, seed: int, out_dir: str, lo: int) -> dict:
    """Write one part file (rows lo..lo+ROWS_PER_PART) and digest its
    documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    hi = min(lo + ROWS_PER_PART, WORKLOADS[workload].n_docs)
    rows = [WORKLOADS[workload].row(i, seed) for i in range(lo, hi)]
    table = pa.Table.from_pylist(rows, schema=_arrow_schema())
    pq.write_table(table, os.path.join(out_dir, f"part-{lo // ROWS_PER_PART:05d}.parquet"))
    if lo == 0:
        pq.write_table(table.slice(0, WARM_ROWS), _warm_path(out_dir))
    digests, failed = oracle.digest_rows(rows)
    return {"digests": digests, "failed": failed,
            "html_bytes": sum(len(r["html"] or b"") for r in rows),
            "inline_code_bytes": sum(inline_code_bytes(r["html"])
                                     for r in rows)}


def _warm_path(docs_dir: str) -> str:
    """The warm-up table sits beside the documents table, not in it."""
    return os.path.join(os.path.dirname(docs_dir), "warm.parquet")


def _arrow_schema():
    import pyarrow as pa
    return pa.schema([("url", pa.string(), False),
                      ("warc_ts", pa.timestamp("us"), False),
                      ("html", pa.binary()), ("text", pa.string()),
                      ("lang", pa.string())])


def build(workload: str, seed: int, out_dir: str) -> dict:
    """Write the corpus parts into ``out_dir`` with POOL_PROCS worker
    processes; return the corpus metadata."""
    n = WORKLOADS[workload].n_docs
    os.makedirs(out_dir, exist_ok=True)
    with ProcessPoolExecutor(POOL_PROCS) as pool:
        parts = list(pool.map(functools.partial(_build_part, workload, seed,
                                                out_dir),
                              range(0, n, ROWS_PER_PART)))
    digests = {}
    for p in parts:
        digests.update(p["digests"])
    if len(digests) != n:
        raise ValueError(f"{workload}: {n} rows but {len(digests)} urls")
    return {"n_docs": n, "digests": digests,
            **{k: sum(p[k] for p in parts)
               for k in ("html_bytes", "inline_code_bytes", "failed")}}


def prepare(work_dir: str, workload: str, seed: int) -> Corpus:
    """Cached corpus for (workload, seed); builds it on a cache miss."""
    cache = os.path.join(work_dir, "corpus")
    final = os.path.join(cache, cache_key(workload, seed))
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = build(workload, seed, os.path.join(tmp, "docs"))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        _evict(cache, workload, keep=final)
    with open(meta_path) as fh:
        meta = json.load(fh)
    os.utime(meta_path)          # recency for eviction
    docs = os.path.join(final, "docs")
    return Corpus(path=docs, warm_path=_warm_path(docs),
                  n_docs=meta["n_docs"], html_bytes=meta["html_bytes"],
                  inline_code_bytes=meta["inline_code_bytes"],
                  digests=meta["digests"], failed=meta["failed"])


def _evict(cache: str, workload: str, keep: str) -> None:
    entries = [os.path.join(cache, d) for d in os.listdir(cache)
               if d.startswith(workload + "-s") and not d.endswith(".tmp")]
    entries.sort(key=lambda d: os.path.getmtime(os.path.join(d, "meta.json"))
                 if os.path.exists(os.path.join(d, "meta.json")) else 0,
                 reverse=True)
    for d in [e for e in entries if e != keep][KEEP_CORPORA - 1:]:
        shutil.rmtree(d, ignore_errors=True)

