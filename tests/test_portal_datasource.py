"""Custom Python Data Source: partition-per-task planning + equality
filter pushdown pruning the task grid before any fetch."""

from __future__ import annotations

import pytest

from etl_transparencia_sergipe_spark.sources import portal_datasource


@pytest.fixture(scope="module")
def portal(spark):
    portal_datasource.register(spark)
    return (
        spark.read.format("transparencia_portal")
        .option("cidades", "aracaju,pacatuba")
        .option("anos", "2023,2024")
        .option("meses", "1,2,3")
    )


def test_reads_full_grid(spark, portal):
    df = portal.load()
    assert df.count() > 0
    combos = {(r.cidade, r.ano, r.mes) for r in
              df.select("cidade", "ano", "mes").distinct().collect()}
    assert len(combos) == 2 * 2 * 3


def test_filter_pushdown_prunes_partitions(spark, portal):
    full = portal.load()
    pruned = portal.load().filter("ano = 2024 AND cidade = 'aracaju'")
    # planning-time pruning: 12 task partitions -> 3
    assert full.rdd.getNumPartitions() == 12
    assert pruned.rdd.getNumPartitions() == 3
    assert {(r.cidade, r.ano) for r in
            pruned.select("cidade", "ano").distinct().collect()} \
        == {("aracaju", 2024)}


def test_in_filter_prunes_partitions(spark, portal):
    # mes IN (1, 3) over 2 cidades x 2 anos x 3 meses: 12 -> 8 partitions
    df = portal.load().filter("mes IN (1, 3)")
    assert df.rdd.getNumPartitions() == 8
    assert {r.mes for r in df.select("mes").distinct().collect()} == {1, 3}


def test_range_filter_prunes_partitions(spark, portal):
    # mes >= 2 prunes mes=1 at planning time: 12 -> 8 partitions
    df = portal.load().filter("mes >= 2")
    assert df.rdd.getNumPartitions() == 8
    assert {r.mes for r in df.select("mes").distinct().collect()} == {2, 3}
    # strict > and a range conjunction prune too
    df2 = portal.load().filter("mes > 1 AND mes < 3 AND ano <= 2023")
    assert df2.rdd.getNumPartitions() == 2  # 2 cidades x 2023 x mes=2
    assert {(r.ano, r.mes) for r in
            df2.select("ano", "mes").distinct().collect()} == {(2023, 2)}


def test_unhandled_filters_still_applied(spark, portal):
    # a predicate shape the reader can't prune on (arithmetic over mes)
    # must still be applied by Spark post-scan, on the full 12 partitions
    df = portal.load().filter("mes % 2 = 1")
    assert df.rdd.getNumPartitions() == 12
    assert {r.mes for r in df.select("mes").distinct().collect()} == {1, 3}
    # string range on cidade is not handled either — correct results anyway
    df2 = portal.load().filter("cidade > 'b'")
    assert {r.cidade for r in df2.select("cidade").distinct().collect()} \
        == {"pacatuba"}


def test_matches_synthetic_fetch(spark, portal):
    """Every row the source yields is the synthetic fetcher's row for the
    same page, fetch_error unset; no page is lost or duplicated."""
    import pandas as pd

    from etl_transparencia_sergipe_spark.sources.scraper_source import (
        synthetic_fetch,
    )

    got = portal.load().filter("cidade = 'aracaju' AND ano = 2024") \
        .toPandas()
    want = synthetic_fetch(pd.DataFrame(
        {"cidade": ["aracaju"] * 3, "ano": [2024] * 3, "mes": [1, 2, 3]}))
    key = ["cidade", "ano", "mes", "processo"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_max_rows_bounds_each_partition(spark, portal):
    """max_rows: the per-partition fetch bound a pushed LIMIT would give
    (the Python DSv2 API has no limit-pushdown hook)."""
    full_per_part = (
        portal.load().groupBy("cidade", "ano", "mes").count().collect())
    assert all(r["count"] > 2 for r in full_per_part)
    capped = (
        spark.read.format("transparencia_portal")
        .option("cidades", "aracaju,pacatuba")
        .option("anos", "2023,2024")
        .option("meses", "1,2,3")
        .option("max_rows", "2")
        .load()
    )
    per_part = capped.groupBy("cidade", "ano", "mes").count().collect()
    assert len(per_part) == 12
    assert all(r["count"] == 2 for r in per_part)
