"""scraping_jobsdb_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine providing the query and data-processing
capabilities of the reference pipeline ``wynnemlo/scraping_jobsdb`` (a
salary-transparency ETL: scrape → lake → parse → impute → export), re-expressed
as one coherent DataFrame/SQL surface, plus the large-scale training-data
operators (dedup, similarity search, multimodal columns, text analysis) such an
engine needs at 100 TB.

Layout
------
- ``session``    SparkSession factory (AQE on, sane shuffle defaults).
- ``schemas``    Explicit StructTypes for every table the engine owns.
- ``sources``    Readers/writers: partitioned lake, parquet tables, CSV edges,
                 idempotent (anti-join) append.
- ``operators``  Relational operator library: dedup, incremental anti-join,
                 merge/impute, DQ checks, windows, similarity, text ops.
- ``functions``  Scalar expression library (the reference's row-level functions
                 as native Column expressions).
- ``plans``      The declared query inventory backing the differential oracle.
- ``streaming``  Structured Streaming ingestion (AvailableNow) + windowed aggs.
- ``pipelines``  The four reference entry points (ingest/parse/impute/export)
                 as composed DataFrame programs.
- ``pyworker``   Python-worker fixed cost: unchanged zip archives are not
                 re-read before every task (CPython < 3.12).

Design rules (100 TB posture)
-----------------------------
1. DataFrame-first: every operator is a declarative plan Catalyst can optimize
   (pushdown, pruning, join selection, AQE). No RDDs.
2. JVM-side hot path: built-in functions only; Python appears solely in
   Arrow-vectorized pandas UDFs for genuinely non-relational work (HTML/text
   extraction, embedding math fallback).
3. No driver-side loops over data: ``collect()`` only for tiny check scalars.
4. Shuffle-aware: broadcast small dimensions, pre-aggregate before joins where
   possible, keep partitioning stable across stages.
"""

__version__ = "0.1.0"

# Every Python worker that unpickles an engine function imports this package,
# so this is where the worker-side zip re-read fix gets installed.
from scraping_jobsdb_spark import pyworker as _pyworker  # noqa: E402

_pyworker.install()
