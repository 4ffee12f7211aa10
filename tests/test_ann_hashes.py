"""The trained-ANN family and the store-backed dedup queries hash-equal
their DuckDB twins at sf0.001.

Each query's Spark result is hashed with the correctness gate's own
``canonical`` (order-insensitive, full-precision doubles) and compared
with its ``oracle_py`` twin — for the ANN family the literal-constant
SQL trained from the same deterministic sample — or, where there is
none, its static oracle SQL. Trained constants, q106's incremental
index, q81's signature store, q107's canonical state and the CC oracle
cache are all built fresh under a per-test ``SPARK_GRAFT_ARTIFACTS``,
so the search, the training and every store build run, never a cached
artifact.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pytest

from etl_transparencia_sergipe_spark.plans import registry

ANN_FAMILY = [
    "q46_ivf_ann_topk",
    "q63_ivf_trained_topk",
    "q98_pq_ann_topk",
    "q99_pq_rerank_topk",
    "q101_ivfpq_topk",
    "q102_ivfpq_residual_topk",
    "q103_ivfpq_residual_refine_topk",
    "q106_incremental_ann_index",
]
# the epoch stores' batch builds (operators/epoch_store.py)
STORE_BACKED = [
    "q81_sigstore_probe",
    "q107_canonical_dedup",
]


def _canonical():
    path = Path(__file__).resolve().parent.parent / "tools" / \
        "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical


@pytest.fixture(scope="module")
def canonical():
    return _canonical()


@pytest.mark.parametrize("name", ANN_FAMILY + STORE_BACKED)
def test_spark_hash_equals_oracle(spark, sf_dir, tmp_path, monkeypatch,
                                  canonical, name):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "quantizers"))
    registry._ensure_loaded()
    qd = registry.REGISTRY[name]
    got = canonical(qd.build(spark, sf_dir).toPandas())

    con = duckdb.connect()
    for table in ("embeddings", "documents"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{table}.parquet')")
    want_df = (qd.oracle_py(con) if qd.oracle_py is not None
               else con.execute(qd.oracle).fetchdf())
    con.close()
    assert got[0] > 0
    assert got == canonical(want_df)
