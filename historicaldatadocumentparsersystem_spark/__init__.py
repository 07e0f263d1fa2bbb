"""PySpark-native main-content extraction engine.

A from-scratch reimplementation of the dataflow semantics of
elayoubidriss/HistoricalDataDocumentParserSystem (reference at
/root/reference, read-only) as an idiomatic Spark pipeline:

- ``extractor/``  : pure-Python (no Spark) extraction core — payload sniff,
  HTML DOM parse + Arc90-style boilerplate classification, PDF-subset
  layout pass. This module IS the correctness oracle; the Spark UDFs call
  exactly these functions, so Spark-vs-oracle equality is structural.
- ``pipeline``    : the flagship Spark job (read -> repartitionById on
  the resume bucket -> mapInPandas(extract) -> write extracted + lineage).
- ``catalog``     : Iceberg-style table emulation (partitioned parquet +
  snapshot manifest + lineage table with MERGE-style resume).
- ``operators/``  : dedup (exact/minhash-LSH/simhash/ngram-jaccard/
  embedding-cosine), similarity search, text analysis, chunking,
  keyword-section selection, span/bbox algebra.
- ``functions/``  : column-expression helpers (built-in functions only).
- ``streaming/``  : Structured Streaming wrapper (foreachBatch over the
  same extraction UDF).

Reference parity citations use /root/reference file:line in docstrings.
"""

__version__ = "0.1.0"
