"""connectors_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the query/data-processing capabilities of
elastic/connectors (reference snapshot at /root/reference, 2026-08-07):
the full-document sync pipeline (filter rules, create/update/skip/delete
diffing, checkpointing, ingestion stats) plus the full-text layer the
reference delegates to Elasticsearch (tokenize -> postings -> compressed
blocks + block-max metadata -> BM25 WAND top-k), rebuilt as idiomatic
Spark DataFrame stages.

Nothing here is a port: the reference is a per-record asyncio pipeline
(reference: app/connectors_service/connectors/es/sink.py:6-19); this
package declares the same semantics as Catalyst-optimizable plans.
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75

# Row-count cutoff for broadcasting the (doc_id, dl) / (doc_id, doc_idx)
# doc map into a join: at or below it the map broadcasts, above it the
# join shuffles. Exact, because every index knows n_docs.
BROADCAST_DOCS_MAX = 2_000_000

# Canonical analyzer: lowercase + split on any non-alphanumeric run.
# Shared verbatim between the build side, the query side, the NumPy
# oracle and the DuckDB oracle SQL (same regex dialect subset works in
# Java regex and RE2). Mirrors the reference's standard-analyzer default
# (reference: app/connectors_service/connectors/es/language_data.yml).
TOKEN_SPLIT_RE = "[^a-z0-9]+"
