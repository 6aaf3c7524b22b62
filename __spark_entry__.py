"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over the engine's query registry
(``mknssh_11_bigdata_spark/queries.py``): every implemented operator from
SURVEY.md §2 is a named (Spark, oracle-SQL) pair there; this module just
exposes the registry in the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mknssh_11_bigdata_spark.queries import QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "customer_feature_table"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the reference's full ``generate_dataset``
    composition (SURVEY.md §3.1) on the driver's star schema:
    conditional-count profile → left join → one-hot → bucketize →
    deterministic top-N → membership semi-join → dimension join.
    The IMDb pipeline's own version is
    ``pipelines/imdb_features.generate_dataset``, whose crew half
    (``crew_columns``) ranks both roles in one grouped window and joins
    the top ids back in the same aggregate as the people stats.
    """
    return QUERIES[FLAGSHIP].spark(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.spark for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted => the driver
    records a weaker rows-only check; only done for genuinely
    non-SQL-expressible ops)."""
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }
