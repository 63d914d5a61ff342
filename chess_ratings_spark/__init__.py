"""chess_ratings_spark — a PySpark-native analytics engine.

Re-expresses the full capability surface of the reference ETL pipeline
(Luke-Marques/chess-ratings: Polars/Prefect ingest of FIDE chess ratings,
see /root/reference) as idiomatic Spark DataFrame / SQL / Structured
Streaming operators, plus the LLM-data-pipeline extension tier (dedup,
similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Layout
------
- ``tables``      : fixture table loaders (schema-aware, incl. nanos ts)
- ``registry``    : the query/oracle registry driving the driver contract
- ``staging``     : session reuse (memos, staged parquet dirs, one purge)
- ``functions/``  : scalar/array/JSON column expressions
- ``operators/``  : relational operators (joins, aggs, windows, set ops,
                    validation, text, similarity)
- ``sources/``    : IO (parquet scan/sink, the chess-ratings XML source)
- ``streaming/``  : Structured Streaming ops + their batch twins
- ``plans/``      : driver-facing query definitions (populates registry)
- ``ingest``      : the end-to-end chess-ratings pipeline composition
"""

__version__ = "0.1.0"
