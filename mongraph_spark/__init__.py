"""mongraph_spark — a PySpark-native property-graph-over-documents engine.

Re-expresses the capabilities of the reference library (pstaender/mongraph,
a MongoDB<->Neo4j glue layer) as idiomatic Spark DataFrame plans:

- per-collection *document* DataFrames (the MongoDB side),
- one *nodes* DataFrame mirroring documents (the Neo4j side),
- one *edges* DataFrame of directed, typed, attributed relationships,
- every reference operation (1-hop traversal, counts, populate joins,
  shortest path, denormalization, cascade deletes) compiled to DataFrame
  filters / joins / aggregates that Catalyst optimizes.

See SURVEY.md for the operator inventory this package implements.
"""

__all__ = ["Mongraph"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # loaded on first use: Python workers start through
    # mongraph_spark.worker_daemon, which imports this package first and
    # needs nothing but pyspark
    if name == "Mongraph":
        from mongraph_spark.session import Mongraph

        return Mongraph
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
