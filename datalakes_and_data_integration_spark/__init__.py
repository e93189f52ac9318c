"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference data-lake project (medallion CSV->staging->curated
pipeline; see SURVEY.md), rebuilt Spark-first, plus large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal).

Layout:
    session     SparkSession factory tuned for local[N] testing / cluster scale
    sources     readers & writers (CSV landing zone, staged parquet, Postgres COPY)
    operators   relational + time-series operators (dedup, windows, impute, ...)
    functions   scalar/column function libraries (text, similarity, hashing)
    plans       the declared query inventory + matching DuckDB oracle SQL
    streaming   Structured Streaming variants of the batch operators
    pipeline    the medallion bronze->silver->gold pipeline (reference parity)
"""

from datalakes_and_data_integration_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
