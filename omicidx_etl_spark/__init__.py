"""omicidx_etl_spark — a brand-new PySpark-native CDC / incremental-ingest
analytics engine with the query and data-processing capabilities of the
reference pipeline (omicidx/omicidx-etl), re-expressed Spark-first.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC, pushdown tuned).
- ``datagen``    Deterministic, fully column-expression synthetic data
                 (tokenized-sequence base table + binlog-style change log).
- ``lake``       A minimal snapshot/manifest table format over bucketed
                 parquet with atomic commits and idempotent batch guards —
                 the MERGE INTO substrate (Iceberg jar is unavailable
                 offline; same semantics, same API shape).
- ``cdc``        The replay engine: latest-per-key event dedup (map-side
                 combinable ``max_by`` aggregation or a broadcast winner
                 join, both from ``operators.cdc_ops``), tombstone
                 handling, bucket-pruned copy-on-write merge.
- ``streaming``  Structured Streaming replay: ``readStream`` over the
                 change-log directory + ``foreachBatch`` idempotent merge,
                 checkpoint-resumable, with poison-batch quarantine;
                 watermarked window stats and ingest-edge redelivery dedup.
- ``operators``  The relational operator library mirroring the reference's
                 consolidation SQL (SURVEY.md §2): latest-per-key dedup, joins,
                 explode-bridges, unions, staging coercions, views.
- ``functions``  Scalar/column function library + training-data-pipeline
                 ops: exact/MinHash/SimHash dedup, similarity search,
                 text quality, token counting, fingerprinting.
- ``sources``    Readers for the supported formats (parquet/json/csv
                 change feeds, manifest anti-diff discovery).
- ``plans``      The curated view catalog (``views``) and the DuckDB
                 oracle comparison (``oracle``).
"""

__version__ = "0.1.0"
