"""Incremental IVFADC index (operators/ann_index.py): assign-only
append == full re-encode under the reused quantizer; drift self-report
flags out-of-distribution batches; cell partitions prune the search."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.ann_index import (
    _load_quantizer,
    append_ivfpq_index,
    build_ivfpq_index,
    search_ivfpq_index,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_search_equals_rebuild_search(spark, emb, tmp_path):
    """Build on the first half, assign-only append the second half ->
    searching the grown index returns EXACTLY what a fresh full-corpus
    encode under the SAME (reused) quantizer artifact returns — the
    round-6 VERDICT item 8 equality, on the recall fixture."""
    n = emb.count()
    half = n // 2
    grown = str(tmp_path / "idx_grown")
    rebuilt = str(tmp_path / "idx_rebuilt")

    build_ivfpq_index(emb.filter(f"vec_id < {half}"), grown)
    report = append_ivfpq_index(emb.filter(f"vec_id >= {half}"), grown,
                                epoch=0)
    # quantizer artifact reused: append encoded against the stored one
    cmat, books, baseline = _load_quantizer(grown)
    build_ivfpq_index(emb, rebuilt, constants=(cmat, books))

    a = _rows(search_ivfpq_index(emb, grown, k=5, r=100))
    b = _rows(search_ivfpq_index(emb, rebuilt, k=5, r=100))
    assert a == b
    assert len(a) > 0
    # in-distribution append: quantization error near the baseline
    assert 0.5 < report["drift_ratio"] < 1.5


def test_append_rows_land_in_cell_partitions(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    n = emb.count()
    build_ivfpq_index(emb.filter(f"vec_id < {n // 2}"), path)
    append_ivfpq_index(emb.filter(f"vec_id >= {n // 2}"), path, epoch=0)
    idx = epoch_store.read(spark, path)
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n
    # hive layout: cell=N dirs exist in the built zone and in the
    # appended epoch; search prunes on them
    for d in (epoch_store.zone_path(spark, path),
              os.path.join(path, "ingest_batch=0")):
        assert len([c for c in os.listdir(d) if c.startswith("cell=")]) >= 2


def test_drift_report_flags_shifted_batch(spark, emb, tmp_path):
    """A batch whose vectors have left the trained distribution (3x
    scale) reports drift_ratio >> 1 — the retrain signal."""
    path = str(tmp_path / "idx")
    n = emb.count()
    build_ivfpq_index(emb.filter(f"vec_id < {n // 2}"), path)
    shifted = emb.filter(f"vec_id >= {n // 2}").select(
        "vec_id",
        F.expr("transform(embedding, x -> x * CAST(3.0 AS FLOAT))")
        .alias("embedding"))
    report = append_ivfpq_index(shifted, path, epoch=0)
    assert report["drift_ratio"] > 2.0
    assert report["baseline_resid_sq"] > 0


def test_search_reads_only_probed_cells(spark, emb, tmp_path):
    """The ADC scan's plan prunes to the probed cell partitions —
    PartitionFilters carry the cell IN (...) predicate."""
    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path)
    out = search_ivfpq_index(emb, path, k=5, nprobe=2, r=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan
    out.collect()
