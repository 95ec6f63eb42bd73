"""PySpark-native analytics engine with the capabilities of the reference
data-ingestion pipeline (ItsRudraksh/Data-Ingestion-API-System-Loop-AI),
re-expressed Spark-first, plus the LLM-data-pipeline operator tier (dedup,
similarity search, text analysis, multimodal plumbing, streaming).

Layout
------
- ``session``    : tuned SparkSession builder (local test / cluster profiles)
- ``schemas``    : pipeline constants (batch size, rate limit) and table names
- ``sources``    : parquet/csv/json loaders for the test star schema
- ``functions``  : reusable column expression builders (text, vectors, priority)
- ``operators``  : the query/operator inventory from SURVEY.md section 2
- ``streaming``  : Structured Streaming layer (live ingestion pipeline)
- ``registry``   : name -> (query fn, oracle SQL) registry consumed by
                   ``__spark_entry__.py``
"""

__version__ = "0.1.0"
