"""gliner_spark — a PySpark-native knowledge-graph construction engine.

A brand-new, Spark-first re-expression of the capabilities of
Knowledgator/GLiNER.cpp (reference at /root/reference, read-only):
GLiNER-style zero-shot span NER as vectorized numpy kernels inside one
``mapInArrow`` stage, followed by windowed relation extraction, MinHash-LSH
entity linking, connected-components canonicalization, and node/edge
table materialization — over Common-Crawl-style page tables.

Layout
------
- ``kernels/``    pure numpy functions, unit-testable without Spark
  (tokenize, encode, span decode, greedy select, scorers)
- ``operators/``  DataFrame → DataFrame pipeline stages (ner, relations,
  linking, canonicalize, dedup, similarity, textstats, materialize)
- ``sources/``    page-table synthesis + testdata loaders
- ``plans/``      end-to-end pipeline composition, checkpoint/resume
- ``streaming/``  incremental (Structured Streaming) ingestion variants

Design stance (SURVEY.md §7): DataFrames + Arrow UDFs only; no RDDs, no
per-row Python on the hot path, no custom Catalyst rules. Every Python
stage reads and writes Arrow batches (``mapInArrow``, ``applyInArrow``,
``arrow_udf``); the package does not use pandas.
"""

__version__ = "0.1.0"
