"""Structured Streaming ingest for the ER engine.

The reference is strictly batch (SURVEY.md §2.11) — its closest analog is
the manifest resume loop (process only files not yet in the checkpoint,
src/pipeline.py:66-120).  This package is the Spark-native generalization:
a `readStream` file source over the pages table, and exactly-once
incremental extract + blocking (+ scoring, given a model) via
`foreachBatch` with Spark's own streaming checkpoint.
"""

from .ingest import run_incremental  # noqa: F401
