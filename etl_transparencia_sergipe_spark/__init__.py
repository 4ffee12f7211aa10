"""PySpark-native analytics engine with the query/data-processing surface of
``jeanclaudio13/etl-transparencia-sergipe`` (see SURVEY.md), re-expressed as
idiomatic Spark DataFrame/SQL, plus LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) designed for 100 TB
scale.

Layout:
    session.py    SparkSession factory (AQE on, UTC, sane shuffle partitions)
    _worker_daemon.py  Spark's Python daemon on the installed pyspark
    functions/    column-expression builders (normalize, money, dates, text)
    sources/      readers/writers (pt-BR CSV dialect, catalog, quarantine)
    operators/    composite operators (dedup, similarity, consolidate, joins)
    plans/        named query builders + DuckDB oracle SQL (driver contract)
    streaming/    Structured Streaming surface over the events table
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy (PEP 562): Spark's Python daemon runs ``python -m
    # etl_transparencia_sergipe_spark._worker_daemon``, which imports this
    # package before the daemon module can take Spark's archives off the
    # path; importing pyspark here would load it from the archive
    if name == "get_spark":
        from etl_transparencia_sergipe_spark.session import get_spark
        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
