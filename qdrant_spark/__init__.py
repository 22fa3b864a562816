"""qdrant_spark — a PySpark-native batch analytics engine with the query
capabilities of qdrant/qdrant (vector similarity search, payload filter
algebra, hybrid fusion, recommendation scoring, facets, group-by, formula
rescoring, MMR, dedup suites, IVF ANN, mutations, streaming ingestion).

Reference semantics: qdrant v1.19.0 (Apache-2.0). This is NOT a port of the
Rust engine — every operator is re-expressed as Spark DataFrame / SQL plans
so Catalyst + Tungsten pick the physical strategy. See SURVEY.md and
COVERAGE.md.

The public names load on first access (PEP 562): importing the package
imports neither pyspark nor any operator, so the Python worker daemon
(:mod:`qdrant_spark._pydaemon`) can start before pyspark is imported.
"""

from importlib import import_module

#: public name -> the module that defines it
_EXPORTS = {
    "CollectionConfig": "qdrant_spark.schema",
    "PayloadField": "qdrant_spark.schema",
    "QueryPlanner": "qdrant_spark.query",
    "VectorConfig": "qdrant_spark.schema",
    "get_spark": "qdrant_spark.session",
    "universal_query": "qdrant_spark.query",
}

__all__ = sorted(_EXPORTS)
__version__ = "0.2.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value
