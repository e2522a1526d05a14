"""kaj_query_engine_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query surface and semantics of the
Sharptail/KAJ-Query-Engine reference (a single-threaded Volcano-model
SPJ engine, see /root/reference) on top of Apache Spark:

- the reference's SQL dialect is parsed by :mod:`.dialect` and lowered
  onto the DataFrame API, letting Catalyst/AQE replace the reference's
  randomized join-order optimizer and all hand-rolled physical
  operators (NestedJoin/BlockNestedJoin/SortMergeJoin/ExternalSort);
- LLM-data-pipeline extensions (deduplication, similarity search,
  text analysis, multimodal columns, streaming) live in
  :mod:`.operators`, :mod:`.functions` and :mod:`.streaming` —
  these have no counterpart in the reference and are designed
  partition-parallel for 100 TB scale.
"""

# The public names load on first use (PEP 562), so importing the
# package imports no pyspark: ``python -m
# kaj_query_engine_spark.worker_daemon`` must settle ``sys.path``
# before pyspark is first imported.
_EXPORTS = {
    "KajEngine": "kaj_query_engine_spark.engine",
    "VersionedTable": "kaj_query_engine_spark.sources.versioned",
    "get_spark": "kaj_query_engine_spark.session",
}

__all__ = ["KajEngine", "VersionedTable", "get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    from importlib import import_module

    value = getattr(import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value
