"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference warehouse (moiztanvir/DataWarehouse-Project).

The reference is a MySQL star-schema near-real-time warehouse (see SURVEY.md):
dirty-CSV ingestion, MESHJOIN stream-relation enrichment, and a 10-query OLAP
catalog. This package re-expresses all of it Spark-first — DataFrame / Spark
SQL plans optimized by Catalyst — plus large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal audio)
designed for 100 TB / multi-executor scale while testable on local[*].

Layout:
    session.py    SparkSession factory + per-query session prep (UTC, AQE)
    io.py         parquet table loaders for the driver testdata star schema
    plans/        star-schema fact builder + the OLAP query catalog (Q1-Q10)
    functions/    cleaning / text / hashing expression libraries (no UDFs)
    operators/    dedup, similarity, text-stats, audio codec, events ops
    sources/      reference-contract dirty-CSV ingestion (schema-on-read)
    streaming/    MESHJOIN analog (foreachBatch) + watermarked windows
    catalog.py    assembles the driver contract: queries() / oracle_sql()
"""

__version__ = "0.1.0"
