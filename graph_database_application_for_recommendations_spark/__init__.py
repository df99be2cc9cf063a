"""PySpark-native analytics engine with the query and data-processing
capabilities of Clara1a2/Graph_Database_Application_for_Recommendations.

The reference is a thin Neo4j/Bolt client (~14 Cypher queries + 3 GDS
algorithm calls, see SURVEY.md). This package re-expresses those semantics
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, iterative
DataFrame programs for the graph algorithms (FastRP, Louvain /
modularity), and one Structured Streaming job (sharded sequence packing).

Layout
------
- ``sources``   : parquet/CSV readers, reference-shaped view derivation
- ``functions`` : vector + text column expression helpers (no Python UDFs)
- ``operators`` : relational operators & serving queries (SURVEY.md §2)
- ``plans``     : iterative algorithm drivers + materialization pipeline
- ``streaming`` : the sharded sequence-packing stream over the documents corpus
- ``registry``  : name -> (spark_fn, oracle_sql) for the driver contract
"""

__version__ = "0.1.0"
