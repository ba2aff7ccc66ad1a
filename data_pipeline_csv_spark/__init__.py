"""data_pipeline_csv_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``kiurchevihor/data_pipeline_csv`` (CSV ingest -> drop-null clean ->
warehouse load -> preview/stats read path; see SURVEY.md), re-expressed
as lazy Spark DataFrame plans optimized by Catalyst, and extended with
the relational + LLM-data-pipeline operator surface (joins, aggregates,
windows, dedup, similarity search, text analysis, streaming) that a
100 TB-scale deployment needs.

Layout:
    session     SparkSession factory tuned for the target cluster
    sources     CSV / Parquet / synthetic readers (reference S1-S6)
    artifacts   build-once artifact cache (layouts, indexes, trained models)
    engine      reference-parity ETL pipeline (ingest -> clean -> load)
    queries     the query library + DuckDB oracle registry
    operators   dedup / similarity / text-analysis / sessionization
    functions   vector + text column expression helpers
    streaming   Structured Streaming jobs over the events table
    multimodal  binary-column (image/audio) plumbing with stubbed codecs
    control     run-state machine + FastAPI control plane (C1-C6)
"""

__version__ = "0.1.0"
