"""steam_data_engineer_project_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of the
Steam data-engineering reference pipeline (Ming5499/Steam-Data-Engineer-Project)
as an idiomatic Spark DataFrame/SQL/Structured-Streaming engine, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) such an engine needs at 100 TB.

Layout
------
- ``session``    SparkSession factory tuned for the target environment.
- ``schemas``    StructTypes for the Steam star model and event envelopes.
- ``functions``  Scalar Column-expression library (SURVEY.md §2.8 F1-F18).
- ``operators``  Relational + training-data operators (dedup, similarity,
                 text stats, top-K, merge/upsert strategies, sessionization).
- ``sources``    Readers (CSV/JSONL/JSON-with-recovery/parquet) and sinks
                 (append / upsert / insert-ignore), CDC envelope decoding.
- ``plans``      The reference dbt model DAG as DataFrame builders plus a
                 topologically-ordered registry.
- ``streaming``  Structured Streaming pipelines: per-key watermark registry,
                 price pipeline, change detection.
- ``quality``    dbt-style data-quality checks (unique/not-null/range/FK).
- ``multimodal`` Binary-column plumbing for image/audio payloads (decode
                 stubbed; Spark-side schema/batching real).
- ``monitoring`` df.observe() metrics.
"""

__version__ = "0.1.0"
