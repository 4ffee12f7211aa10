"""ML parity (A4-A6), multimodal plumbing, df.observe metrics (D7) and
task-tagged logging (D8)."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.ml import (
    correlation_pairs,
    kmeans_clusters,
    scaler_stats,
)
from etl_transparencia_sergipe_spark.observability import (
    observed,
    task_log_context,
)
from etl_transparencia_sergipe_spark.sources.catalog import load_table
from etl_transparencia_sergipe_spark.sources.multimodal import (
    decode_image,
    extract_features,
    media_from_documents,
)


def test_kmeans_deterministic_with_seed(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_quantity", "l_extendedprice", "l_discount")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    a = sorted(
        (r.cluster, r.n) for r in
        kmeans_clusters(li, cols, k=3, seed=42)
        .groupBy("cluster").agg(F.count("*").alias("n")).collect())
    b = sorted(
        (r.cluster, r.n) for r in
        kmeans_clusters(li, cols, k=3, seed=42)
        .groupBy("cluster").agg(F.count("*").alias("n")).collect())
    assert a == b
    assert sum(n for _, n in a) == li.count()


def test_scaler_stats_match_python(spark):
    import statistics

    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = scaler_stats(df, ["x"]).collect()[0]
    assert row.x_mean == pytest.approx(statistics.mean(vals))
    assert row.x_std_pop == pytest.approx(statistics.pstdev(vals))


def test_scaler_stats_large_mean_tiny_spread_is_exact(spark):
    """Values near 1.2e8 spread by a few 1e-6: s2/n - (s1/n)^2 in DOUBLE
    loses every significant digit of the variance. Both engines must
    match the exact Fraction reference instead (to a few ulps: only the
    final double operations round)."""
    import math
    from decimal import Decimal
    from fractions import Fraction

    import duckdb

    from etl_transparencia_sergipe_spark.ml import scaler_stats_duck

    texts = ["123456789.123456", "123456789.123457", "123456789.123459",
             "123456789.123456", "123456789.123462"]
    exact = [Fraction(Decimal(t)) for t in texts]
    mean = sum(exact) / len(exact)
    var = sum((x - mean) ** 2 for x in exact) / len(exact)
    want_mean, want_std = float(mean), math.sqrt(float(var))

    vals = [float(t) for t in texts]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    spark_row = scaler_stats(df, ["x"]).collect()[0]
    duck_row = con.execute(scaler_stats_duck("t", ["x"])).fetchone()
    for got_mean, got_std in [(spark_row.x_mean, spark_row.x_std_pop),
                              tuple(duck_row)]:
        assert got_mean == pytest.approx(want_mean, rel=1e-15)
        assert got_std == pytest.approx(want_std, rel=1e-12)
    assert (spark_row.x_mean, spark_row.x_std_pop) == tuple(duck_row)


def test_correlation_pairs_bounds(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = correlation_pairs(li, ["l_quantity", "l_extendedprice"]).collect()
    by_pair = {(r.col_a, r.col_b): r.corr for r in out}
    assert by_pair[("l_quantity", "l_quantity")] == pytest.approx(1.0)
    assert -1.0 <= by_pair[("l_quantity", "l_extendedprice")] <= 1.0


def test_multimodal_features_batch_shape(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    media = media_from_documents(spark, docs)
    feats = extract_features(media, batch_parallelism=4)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r.n_bytes > 0 and len(r.checksum) == 32
    assert 0.0 <= r.feat_mean <= 255.0


def test_decode_stub_raises_cleanly():
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(b"\x89PNG...")


def test_observe_metrics(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    df, obs = observed(
        li.filter("l_quantity > 25"),
        "m",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )
    n = df.count()  # action drives the plan; observation rides along
    assert obs.get["n_rows"] == n
    assert obs.get["sum_qty"] > 0


def test_task_log_context_tags_records(caplog):
    caplog.set_level(logging.INFO, logger="etl_transparencia_sergipe_spark")
    task_log_context("t1").info("page fetched")
    assert [r.task_id for r in caplog.records] == ["t1"]
