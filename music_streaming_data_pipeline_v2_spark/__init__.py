"""PySpark-native analytics engine with the query and data-processing
capabilities of King-04/Music-Streaming-Data-Pipeline-V2.

The reference (an S3 → Lambda → Airflow → Glue → DynamoDB ETL pipeline) is
re-expressed here as a library of composable DataFrame transforms plus a
Structured Streaming ingestion layer:

- ``schemas``    — explicit StructType contracts (reference §1.2 types)
- ``session``    — SparkSession factory: ``local[$SPARK_GRAFT_CPUS]``
                   for testing, 100 TB-cluster defaults (AQE,
                   partitioned writes)
- ``io``         — schema'd sources/sinks, manifest-based incremental scan
- ``operators``  — validation (coerce-and-drop), enrichment joins,
                   aggregation, top-K windows, unpivot/KV reshape, dedup,
                   similarity search, text analysis, multimodal plumbing
- ``plans``      — end-to-end query pipelines (music KPIs, relational
                   analogs on the TPC-H-ish test tables, KV serving)
- ``streaming``  — Structured Streaming file-source pipeline (checkpoint
                   = manifest, cleanSource = archival, event-time windows)
"""

__version__ = "0.1.0"
