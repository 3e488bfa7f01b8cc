"""pyspark_pipelining_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
codebase xiaowei1234/pySpark-Pipelining (household media-metrics pipelines
+ a data-quality module), re-expressed with the modern DataFrame / SQL /
Structured Streaming APIs and designed for 100 TB-scale clusters.

Subpackages
-----------
sources    : schema registry, parquet/JDBC/media sources, sinks
operators  : the operator library (reach, frequency, pairwise, before/
             after, quality checks, dedup, similarity, text analysis)
plans      : pipeline DAG composition + idempotent materialization
streaming  : event-time sessionization
"""

from pyspark_pipelining_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
