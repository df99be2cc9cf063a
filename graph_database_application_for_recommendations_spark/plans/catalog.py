"""Named-graph catalog — the Spark analog of the GDS graph catalog
(SURVEY.md §2.1 S8: ``gds.graph.exists`` → ``apoc.do.when(... drop)``,
reference ``algorithms/Alg_KNN_FastRP.py:10-25``).

A GDS in-memory projection maps to a cached DataFrame registered as a temp
view; existence check and conditional drop map to catalog lookups.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def graph_exists(spark: SparkSession, name: str) -> bool:
    return any(t.name == name for t in spark.catalog.listTables())


def drop_graph_if_exists(spark: SparkSession, name: str) -> bool:
    """Reference's exists→drop dance; returns True if something was dropped."""
    if not graph_exists(spark, name):
        return False
    spark.table(name).unpersist()
    spark.catalog.dropTempView(name)
    return True
