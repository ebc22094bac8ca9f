"""aiesec_guc_spark — a PySpark-native analytics engine.

Re-expresses every capability of the reference snapshot-differencing
pipeline (IbrahiimHassan/AIESEC_GUC, `aiesec.py`) as idiomatic Spark
DataFrame operators, and extends it with the LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text
analysis) required for 100 TB-scale training-data work.

Layout:
    session     SparkSession factory with scale-aware defaults
    schemas     explicit StructTypes for every table (no inference)
    catalog     parquet table loaders for the test corpus
    functions/  scalar/string/text/vector function library
    operators/  composite DataFrame operators (delta, dedup, topk, ...)
    queries/    named, oracle-checked query registry (driver contract)
    sources/    edge connectors (driver-side listing scrape, fixtures)
    sinks/      presentation sinks (styled report, guarded notify)
    streaming/  incremental / structured-streaming variants
    plans/      plan-inspection helpers (pushdown/broadcast asserts)
"""

__version__ = "0.1.0"
