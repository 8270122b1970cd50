"""zg_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference event-analytics ETL
(yick521/zg-etl), re-expressed Spark-first.

Layout:
    session     SparkSession factory tuned for local[32] testing and
                cluster-scale defaults (AQE, shuffle partitions, Arrow).
    dialect     the one Spark/DuckDB SQL dialect (SPARK engine, DUCK oracle)
                every template renders through.
    sources     table loaders / registry (parquet today, Kafka+stream later).
    functions   scalar function library + the virtual-attribute SQL-subset
                expression compiler (reference operator/id/virtualAttribute/).
    operators   stage operators: gate, identity resolution, dictionaries,
                virtual attrs/events, enrichment, routing/pivot, plus the
                LLM-data-pipeline operators (dedup, similarity, text).
    plans       declared analytical queries (the engine's query surface).
    streaming   structured-streaming wrappers over the same stage functions.
"""

from zg_etl_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
