"""PySpark-native analytics engine with the query and data-processing
capabilities of HaimCohen96/ImdbMapReduce (see SURVEY.md), rebuilt
Spark-first: DataFrame/SQL plans optimized by Catalyst, designed for the
100 TB / 1000-executor scale point, tested against a DuckDB oracle.
"""

from imdbmapreduce_spark.session import get_spark
from imdbmapreduce_spark.catalog import load_tables, register_views, table
from imdbmapreduce_spark.operators.cooccurrence import Engine


def queries():
    """All registered queries: name -> fn(spark, sf_dir) -> DataFrame.
    The complete query surface (SURVEY.md §2 + the LLM-pipeline
    verticals), same registry the driver contract reads."""
    from imdbmapreduce_spark import registry

    return registry.all_queries()


def run(name: str, spark, sf_dir: str):
    """Run one registered query by name."""
    from imdbmapreduce_spark import registry

    return registry.get(name).fn(spark, sf_dir)


def persist_indexes(spark, sf_dir: str) -> dict:
    """Build and persist every index group (``indexstore.GROUPS``: vector
    IVF/PQ, text dedup, ER match table) for a corpus, skipping a group
    whose manifest is already valid under the current params; returns
    {group: directory}. Later sessions' ANN, dedup and ER queries then
    answer from the prebuilt on-disk index."""
    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.operators import dedup, similarity

    persisters = {
        "vector": (similarity._vector_params, similarity.persist_vector_index),
        "text": (dedup._text_params, dedup.persist_text_index),
        "er": (dedup._er_params, dedup.persist_er_index),
    }
    dirs = {}
    for group in indexstore.GROUPS:
        params, persist = persisters[group]
        if indexstore.group_manifest(sf_dir, group, params()) is None:
            dirs[group] = persist(spark, sf_dir)
        else:
            dirs[group] = indexstore._group_dir(sf_dir, group)
    return dirs


__all__ = [
    "get_spark",
    "load_tables",
    "register_views",
    "table",
    "Engine",
    "queries",
    "run",
    "persist_indexes",
]
