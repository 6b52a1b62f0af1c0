"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference repo ``yudong-94/INF_553_DataMining_MapReduce``.

The reference (surveyed in SURVEY.md) covers four query families:

1. Grouped-average analytics over multi-way joins
   (``1-Group Average Calculation/task1.scala``, ``task2.scala``)
2. Frequent-itemset mining — SON + A-priori
   (``2-Market Basket Analysis/Solutions/SON.scala``)
3. Graph construction + edge betweenness (simplified Girvan-Newman credit
   rule) (``3-Graph Community Detection/Betweenness.scala``)
4. Community detection — Girvan-Newman with modularity-guided stopping
   (``3-Graph Community Detection/Community.scala``)

This engine re-expresses all of them Spark-first (DataFrame / Spark SQL /
Catalyst; Python kernels only where Spark has no operator: SON's A-priori
phases, the betweenness BFS, and the ``mapInPandas`` kernels of embedding
dedup, LSH bucketing and media decoding; small SON and betweenness inputs
run their kernels on the driver), and adds
the large-scale training-data-pipeline surface the reference lacks: dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding), similarity
search, text analysis, multimodal column plumbing, and windowed / streaming
event analytics.
"""

# Lazy exports (PEP 562): the worker daemon runs as
# ``python -m inf_553_datamining_mapreduce_spark.worker_daemon``, which
# imports this package first. Importing ``session`` here would import
# pyspark before the daemon has chosen where pyspark loads from.
__all__ = [
    "get_spark",
    "release_session_blocks",
    "register_release_hook",
    "maybe_release_under_pressure",
]


def __getattr__(name: str):
    if name in __all__:
        from inf_553_datamining_mapreduce_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
