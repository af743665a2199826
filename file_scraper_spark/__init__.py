"""file_scraper_spark — a PySpark-native analytics engine.

A from-scratch Spark-first re-expression of the capabilities of the
reference ETL pipeline ``ibotty/file-scraper`` (see ``SURVEY.md``): a
snapshot-sync scrape dataflow (source listing -> metadata projection ->
merge/upsert sink with soft deletes) plus a full declarative relational
query surface and LLM-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session.py    SparkSession factory tuned for the target cluster
    worker_daemon.py  Python worker daemon (stamp-checked zip invalidation)
    tables.py     fixture table loaders (lazy parquet scans; the schema is
                  read from the parquet footers on each load)
    registry.py   query registry: name -> (callable, oracle SQL)
    operators/    relational + scrape + dedup + similarity + text ops
    sources/      fs / s3 listing sources with scheme dispatch
    sinks/        transactional merge sink (staging + upsert + soft delete)
    streaming/    Structured Streaming operators
"""

__version__ = "0.1.0"
