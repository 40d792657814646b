"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference recommender system (see SURVEY.md).

The engine is DataFrame/SQL-first: every reference capability — relational
operators, ALS recommendation, streaming micro-batch scoring, top-k ranking,
cold-start analytics, vector similarity, text analysis/dedup — is expressed
as declarative Spark plans optimized by Catalyst. No RDD lambdas in hot
paths; Python only via Arrow-vectorized pandas UDFs where built-ins cannot
express the semantics.
"""

# imported for its side effect: the zip-directory guard (see shipping.py)
from cqu_bigdata_recommender_system_for_movies_spark import shipping  # noqa: F401
from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark

__all__ = ["get_spark"]
