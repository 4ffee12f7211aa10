"""The reference's whole ETL as ONE Spark logical plan (SURVEY.md §3.1).

Reference lifecycle: config -> (cidade, ano, mes) task grid -> threaded
Selenium fetch -> royalty term filter -> master+detail projection -> monthly
CSV -> yearly glob/concat consolidation (main.py:38-60;
aracaju_barra_pirambu_scraper.py:317-351; file_utils.py:22-57).

Spark re-expression: portal source scan (one Arrow batch per page, the
pages packed into one partition per core) -> filter(P4) -> select(P1+P2)
+ F6 money cast -> write.partitionBy(cidade, ano, mes).
The consolidation step DISAPPEARS: a partitioned table read with partition
pruning IS the consolidated view — no physical concat at any scale.
"""

from __future__ import annotations

from collections import defaultdict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.functions.dates import parse_br_date
from etl_transparencia_sergipe_spark.functions.money import parse_ptbr_money
from etl_transparencia_sergipe_spark.functions.normalize import (
    ROYALTY_TERMS,
    term_filter,
)
from etl_transparencia_sergipe_spark.sources import portal_datasource
from etl_transparencia_sergipe_spark.sources.scraper_source import (
    MASTER_COLUMNS,
    DETAIL_COLUMNS,
    synthetic_fetch,
)


def royalties_pipeline(spark: SparkSession, cidades: list[str],
                       anos: list[int], meses: list[int] | None = None,
                       fetch_fn=synthetic_fetch,
                       terms: tuple[str, ...] = ROYALTY_TERMS) -> DataFrame:
    """portal scan -> royalty filter -> typed projection.

    ``fetch_fn`` maps a tasks frame (cidade, ano, mes) to its rows frame
    and runs once per page. Returns the typed royalty records (still
    lazy — callers write it partitioned or aggregate it directly).
    """
    raw = portal_datasource.load(spark, cidades, anos, meses, fetch_fn)
    ok = raw.filter(F.col("fetch_error").isNull()).drop("fetch_error")
    royalty = ok.filter(term_filter("fonte_de_recurso", terms))
    return royalty.select(
        "cidade", "ano", "mes",
        *MASTER_COLUMNS, *DETAIL_COLUMNS,
        parse_br_date("data").alias("data_dt"),
        parse_ptbr_money("pago").alias("pago_dec"),
        parse_ptbr_money("retido").alias("retido_dec"),
        parse_ptbr_money("anulacao").alias("anulacao_dec"),
    )


def write_partitioned(df: DataFrame, path: str) -> None:
    """Persist with the reference's (cidade, ano, mes) layout as hive
    partitions (§1.3) — dynamic overwrite = idempotent month re-runs
    (D9, file_utils.py:57 overwrite semantics)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cidade", "ano", "mes")
        .parquet(path)
    )


def consolidated_view(spark: SparkSession, path: str,
                      ano: int | None = None) -> DataFrame:
    """The yearly 'consolidado' (file_utils.py:22-57) = a partition-pruned
    read; the filter prunes to one year's partitions without touching
    other files."""
    df = spark.read.parquet(path)
    return df.filter(F.col("ano") == ano) if ano else df


def run_with_retry(spark: SparkSession, cidades: list[str], anos: list[int],
                   fetch_fn=synthetic_fetch, max_passes: int = 2) -> DataFrame:
    """D4 orchestration: read the grid, then re-read only the pages that
    came back as ``fetch_error`` rows — one read per failed (cidade, ano)
    with its failed months."""
    # localCheckpoint: the fetch is nondeterministic (live I/O); without
    # materialization, collecting the failed keys and the final result
    # would re-execute the fetch lineage, duplicating rows that failed
    # during one evaluation but succeeded in the next (and vice versa)
    fetched = portal_datasource.load(
        spark, cidades, anos, None, fetch_fn).localCheckpoint(eager=True)
    for _ in range(max_passes - 1):
        failed = defaultdict(list)
        for r in (fetched.filter(F.col("fetch_error").isNotNull())
                  .select("cidade", "ano", "mes").distinct().collect()):
            failed[(r.cidade, r.ano)].append(r.mes)
        if not failed:
            break
        fetched = reduce(DataFrame.unionByName, [
            portal_datasource.load(spark, [c], [a], sorted(ms), fetch_fn)
            for (c, a), ms in sorted(failed.items())
        ], fetched.filter(F.col("fetch_error").isNull())
        ).localCheckpoint(eager=True)
    return fetched
