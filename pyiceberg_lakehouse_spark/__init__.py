"""pyiceberg_lakehouse_spark — a PySpark-native lakehouse + analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``ashkangoleh/pyiceberg-lakehouse`` (a PyIceberg lakehouse workflow driven by
Daft/Polars/Arrow/Ray), re-expressed Spark-first:

- lakehouse lifecycle: create / append / transactional-append / overwrite /
  add_files / upsert / merge-on-read deletes / history / time-travel /
  compaction / snapshot expiry / schema evolution, backed by partitioned
  Parquet plus a per-table append-only JSON snapshot log with an flock
  commit lock and multi-writer retry; scan-time file skipping via per-file min/max stats,
  bloom filters, and Z-order clustering; bucketed co-located joins
  (``lakehouse/``; reference: main-daft.py, main-polars.py, upsert.py),
- a full relational query surface (scans, filters, aggregations incl. TPC-H
  Q1/Q3/Q5/Q7/Q10/Q12/Q14/Q16/Q18/Q19 shapes, joins incl. as-of and range,
  windows, set ops, scalar functions) on the Spark DataFrame/SQL API
  (``queries/``),
- LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search (exact cosine,
  hyperplane LSH, IVF), text analysis incl. winnowing fingerprints,
  multimodal column plumbing (``operators/``),
- Structured Streaming: windows, watermarks, stateful operators, and the
  lakehouse table as an exactly-once sink and a file-stream source
  (``streaming/``).

See COVERAGE.md for the SURVEY.md §2 line-item map; every query is
registered in ``registry.py`` and differentially verified against DuckDB.

Everything is declarative DataFrame/SQL so Catalyst plans the physical
execution; Python UDFs appear only where Spark builtins genuinely cannot
express the semantics (and then as Arrow-vectorized pandas UDFs).
"""

from pyiceberg_lakehouse_spark.session import (
    ensure_runtime_confs,
    export_worker_pythonpath,
    get_spark,
)

__all__ = ["get_spark", "ensure_runtime_confs", "export_worker_pythonpath"]
__version__ = "0.1.0"
