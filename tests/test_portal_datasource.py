"""Custom Python Data Source: the (cidade, ano, mes) page grid planned as
input partitions (one page each on a direct read, packed one run of pages
a core through ``load``) + equality filter pushdown pruning the grid
before any fetch."""

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
    """max_rows: the per-page fetch bound a pushed LIMIT would give (the
    Python DSv2 API has no limit-pushdown hook)."""
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


def test_load_packs_pages_one_partition_a_core(spark):
    """``load`` over 2 cidades x 12 meses plans min(24, defaultParallelism)
    partitions and fetches every page exactly once."""
    from etl_transparencia_sergipe_spark.sources.scraper_source import (
        synthetic_fetch,
    )

    sc = spark.sparkContext
    cidades = ["aracaju", "pacatuba"]
    fetched = {(c, m): sc.accumulator(0)
               for c in cidades for m in range(1, 13)}

    def counted(tasks):
        for c, m in zip(tasks["cidade"], tasks["mes"]):
            fetched[(c, m)].add(1)
        return synthetic_fetch(tasks)

    df = portal_datasource.load(spark, cidades, [2024], None, counted)
    assert df.rdd.getNumPartitions() == min(24, sc.defaultParallelism)
    assert df.count() > 0
    assert {k: a.value for k, a in fetched.items()} \
        == {k: 1 for k in fetched}


def test_failed_page_inside_a_packed_partition(spark, monkeypatch):
    """A page that always fails gives one fetch_error row, and the pages
    that share its partition give the rows a one-page-per-partition read
    gives."""
    from pyspark import SparkContext

    from etl_transparencia_sergipe_spark.sources.scraper_source import (
        synthetic_fetch,
    )

    def dead_march(tasks):
        if (tasks["mes"] == 3).any():
            raise RuntimeError("portal timeout")
        return synthetic_fetch(tasks)

    def read(parallelism: int):
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: parallelism))
        df = portal_datasource.load(spark, ["aracaju"], [2024], None,
                                    dead_march)
        return df.rdd.getNumPartitions(), sorted(
            df.collect(), key=lambda r: [str(v) for v in r])

    n_packed, packed = read(1)
    n_single, single = read(12)
    assert (n_packed, n_single) == (1, 12)
    errors = [r for r in packed if r.fetch_error is not None]
    assert [(r.mes, r.fetch_error) for r in errors] \
        == [(3, "RuntimeError: portal timeout")]
    assert {r.mes for r in packed if r.fetch_error is None} \
        == set(range(1, 13)) - {3}
    assert packed == single
