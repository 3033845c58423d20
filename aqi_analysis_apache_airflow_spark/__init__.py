"""aqi_analysis_apache_airflow_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline ``khoaly811/AQI_analysis_Apache-Airflow`` (a pandas +
SQLAlchemy + Postgres daily-batch AQI ETL), re-expressed idiomatically on
the Spark DataFrame/SQL stack:

- declarative logical plans (Catalyst optimizes: pushdown, pruning,
  broadcast-join selection, AQE),
- set-based operators instead of the reference's row-at-a-time ORM loops,
- explicit schema-on-write instead of reflected schemas,
- Structured Streaming as the principled version of the reference's
  hand-rolled CET/LSET incremental-batch protocol.

Layout
------
``session``    SparkSession builder (UTC, AQE, Arrow).
``schemas``    explicit StructTypes for the AQI domain + test corpus.
``sources``    CSV/parquet scans (reference ops S1-S3).
``operators``  filters/dedup/merge/surrogate keys/salted join (F*/A*).
``functions``  scalar + text + similarity + dedup + multimodal functions.
``pipelines``  source→stage and stage→NDS parity pipelines + CET/LSET.
``streaming``  Structured Streaming surface over the events table.
``plans``      the query registry driving ``__spark_entry__`` and bench.
"""

__version__ = "0.1.0"
