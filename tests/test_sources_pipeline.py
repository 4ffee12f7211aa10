"""End-to-end reference-parity pipeline + CSV dialect + quarantine tests
(SURVEY.md §3.1, S6/S7/S10, D1-D4)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.functions.normalize import term_filter
from etl_transparencia_sergipe_spark.pipelines import (
    consolidated_view,
    royalties_pipeline,
    run_with_retry,
    write_partitioned,
)
from etl_transparencia_sergipe_spark.sources.csv_ptbr import (
    read_ptbr_csv,
    sniff_sep,
    split_quarantine,
    write_ptbr_csv,
)
from etl_transparencia_sergipe_spark.sources import portal_datasource
from etl_transparencia_sergipe_spark.sources.scraper_source import (
    synthetic_fetch,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="srvárias_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_end_to_end(spark, tmpdir):
    out = os.path.join(tmpdir, "processed")
    df = royalties_pipeline(spark, ["aracaju", "pacatuba"], [2024], [1, 2])
    write_partitioned(df, out)

    back = consolidated_view(spark, out, ano=2024)
    rows = back.collect()
    assert len(rows) > 0
    # only royalty-matching fontes survive the P4 filter
    fontes = {r.fonte_de_recurso for r in rows}
    assert all(
        any(t in f.lower() for t in ("royalt", "petróleo", "petroleo",
                                     "15300000", "17200000"))
        for f in fontes
    ), fontes
    # money parsed to decimal, date parsed
    assert all(r.pago_dec is not None for r in rows)
    assert all(r.data_dt is not None for r in rows)
    # hive layout on disk: cidade=*/ano=*/mes=*
    assert any("cidade=aracaju" in p for p, _, _ in os.walk(out))
    # partition pruning returns only requested year
    assert {r.ano for r in rows} == {2024}


def test_pipeline_deterministic(spark):
    a = royalties_pipeline(spark, ["aracaju"], [2024], [1]).collect()
    b = royalties_pipeline(spark, ["aracaju"], [2024], [1]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _dead_february(calls):
    """A fetcher whose February page always fails (a dead portal page);
    ``calls`` counts fetch attempts on February and on every other month."""

    def fetch(tasks: pd.DataFrame) -> pd.DataFrame:
        if (tasks["mes"] == 2).any():
            calls["feb"].add(1)
            raise RuntimeError("portal timeout")
        calls["other"].add(1)
        return synthetic_fetch(tasks)

    return fetch


def test_failed_page_yields_error_rows_and_retry(spark, monkeypatch):
    sc = spark.sparkContext
    calls = {"feb": sc.accumulator(0), "other": sc.accumulator(0)}
    fetched = portal_datasource.load(spark, ["aracaju"], [2024], [1, 2, 3],
                                     _dead_february(calls))
    failed = fetched.filter(F.col("fetch_error").isNotNull()).collect()
    # exactly one error row, for the dead page, after every attempt failed
    assert [(r.cidade, r.ano, r.mes) for r in failed] == [("aracaju", 2024, 2)]
    assert failed[0].fetch_error == "RuntimeError: portal timeout"
    assert failed[0].pago is None
    assert calls["feb"].value == portal_datasource.FETCH_ATTEMPTS
    ok = fetched.filter(F.col("fetch_error").isNull())
    assert {r.mes for r in ok.select("mes").distinct().collect()} == {1, 3}

    # run_with_retry re-reads only the failed key, once per extra pass
    loads = []
    real_load = portal_datasource.load

    def spy(spark, cidades, anos, meses, fetch_fn):
        loads.append((cidades, anos, meses))
        return real_load(spark, cidades, anos, meses, fetch_fn)

    monkeypatch.setattr(portal_datasource, "load", spy)
    calls = {"feb": sc.accumulator(0), "other": sc.accumulator(0)}
    out = run_with_retry(spark, ["aracaju"], [2024],
                         fetch_fn=_dead_february(calls), max_passes=2)
    assert loads == [(["aracaju"], [2024], None),
                     (["aracaju"], [2024], [2])]
    assert calls["other"].value == 11
    assert calls["feb"].value == 2 * portal_datasource.FETCH_ATTEMPTS
    # the page that never recovers stays visible as its error row
    assert [r.mes for r in out.filter(F.col("fetch_error").isNotNull())
            .collect()] == [2]
    assert {r.mes for r in out.filter(F.col("fetch_error").isNull())
            .select("mes").distinct().collect()} == set(range(1, 13)) - {2}


def _tagged(tag: str):
    def fetch(tasks: pd.DataFrame) -> pd.DataFrame:
        return synthetic_fetch(tasks).assign(credor=tag)

    return fetch


def test_concurrent_pipelines_keep_their_own_fetcher(spark):
    """Two threads run the pipeline at once with different fetchers: each
    result holds only its own fetcher's rows."""
    from concurrent.futures import ThreadPoolExecutor
    from threading import Barrier

    start = Barrier(2)

    def run(tag: str) -> list[set]:
        start.wait(timeout=60)
        return [{r.credor for r in royalties_pipeline(
            spark, ["aracaju"], [2024], [1, 2], fetch_fn=_tagged(tag))
            .select("credor").distinct().collect()} for _ in range(3)]

    with ThreadPoolExecutor(2) as pool:
        a, b = pool.map(run, ["tag-a", "tag-b"])
    assert a == [{"tag-a"}] * 3
    assert b == [{"tag-b"}] * 3


def test_run_with_retry_recovers(spark):
    state = {"failed_once": False}

    def flaky_once(tasks: pd.DataFrame) -> pd.DataFrame:
        if not state["failed_once"] and (tasks["mes"] == 1).any():
            state["failed_once"] = True
            raise RuntimeError("transient")
        return synthetic_fetch(tasks)

    # NOTE: closure state is per-executor in cluster mode; this works in
    # local mode and stands in for a transient remote failure.
    fetched = run_with_retry(spark, ["aracaju"], [2024],
                             fetch_fn=flaky_once, max_passes=3)
    assert fetched.filter(F.col("fetch_error").isNotNull()).count() == 0


def test_csv_dialect_roundtrip(spark, tmpdir):
    path = os.path.join(tmpdir, "out_csv")
    src = spark.createDataFrame(
        [("13 - FAZENDA", "R$ 1.234,56"), ("14 - SAÚDE", "R$ 0,10")],
        "orgao string, pago string")
    write_ptbr_csv(src, path)
    # written with ';'
    part = [p for p in os.listdir(path) if p.endswith(".csv")][0]
    with open(os.path.join(path, part), encoding="utf-8") as f:
        assert ";" in f.readline()
    assert sniff_sep(spark, path) == ";"
    back = read_ptbr_csv(spark, path, schema="orgao string, pago string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_quarantine_split(spark, tmpdir):
    raw = os.path.join(tmpdir, "raw.csv")
    with open(raw, "w", encoding="utf-8") as f:
        f.write("a;b;c\n1;2;3\nBADLINE_ONLY_ONE_FIELD\n4;5;6\n")
    df = read_ptbr_csv(
        spark, raw,
        schema="a int, b int, c int, _corrupt_record string")
    good, bad = split_quarantine(df)
    assert good.count() == 2
    assert bad.count() == 1
    assert "BADLINE" in bad.collect()[0].raw_line


def test_comma_dialect_sniffed(spark, tmpdir):
    # the notebook variant writes plain comma CSV (OSR ipynb cell 16)
    raw = os.path.join(tmpdir, "comma.csv")
    with open(raw, "w", encoding="utf-8") as f:
        f.write("x,y\n1,2\n3,4\n")
    assert sniff_sep(spark, raw) == ","
    back = read_ptbr_csv(spark, raw, schema="x int, y int")
    assert back.count() == 2


def test_merge_materialized_idempotent_and_partition_scoped(spark, sf_dir):
    """q73: file-level MERGE. Re-running must be bit-identical (idempotent
    month re-run, file_utils.py:57), the mes=3 partition must carry exactly
    the 1.1x delta generation, and a stale partition left on disk by a
    previous (failed) run must be wiped by the static base rewrite."""
    from pyspark.sql import functions as F

    from etl_transparencia_sergipe_spark.plans.registry import queries

    q73 = queries()["q73_merge_materialized"]
    r1 = {tuple(r) for r in q73(spark, sf_dir).collect()}
    r2 = {tuple(r) for r in q73(spark, sf_dir).collect()}
    assert r1 == r2 and len(r1) == 12

    # the merged mes=3 partition total must be the exact decimal 1.1x of
    # the base month-3 total (partition fully replaced, no mixed rows)
    from etl_transparencia_sergipe_spark.sources.catalog import load_table

    base3 = (
        load_table(spark, "orders", sf_dir)
        .filter(F.month("o_orderdate") == 3)
        .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)")
                    * F.lit(1.1).cast("decimal(3,1)")).cast("decimal(18,3)"))
             .cast("double").alias("t"))
        .collect()[0].t
    )
    merged3 = {t[0]: t[2] for t in r1}[3]
    assert merged3 == base3

    # plant a bogus partition, re-run, and confirm it is gone
    import os

    from etl_transparencia_sergipe_spark.operators.quantizer_store import (
        state_dir,
    )

    out = str(state_dir(f"merge_{sf_dir.strip('/').replace('/', '_')}"))
    spark.range(1).selectExpr(
        "CAST(99 AS INT) AS mes", "id AS o_orderkey", "id AS o_custkey",
        "'X' AS o_orderstatus",
        "CAST(1 AS DECIMAL(18,3)) AS o_totalprice",
    ).write.mode("append").partitionBy("mes").parquet(out)
    assert os.path.isdir(os.path.join(out, "mes=99"))
    r3 = {tuple(r) for r in q73(spark, sf_dir).collect()}
    assert r3 == r1
    assert not os.path.isdir(os.path.join(out, "mes=99"))
