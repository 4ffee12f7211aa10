"""Drift-driven index maintenance (operators/ann_index.py round-8
additions): epoch appends, upto_epoch-bounded compaction, and the
rebuild (build_ivfpq_index over the current corpus) —
out-of-distribution appends degrade measured recall, a rebuild
restores it, and in-distribution rebuilds leave search results
bit-identical."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.ann_index import (
    _load_quantizer,
    append_ivfpq_index,
    build_ivfpq_index,
    compact_ann_index,
    maybe_rebuild_ann_index,
    search_ivfpq_index,
)
from etl_transparencia_sergipe_spark.operators.similarity import l2_topk
from etl_transparencia_sergipe_spark.streaming.ann_stream import (
    ann_ingest_sink,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _shifted(emb, lo, n):
    """An out-of-distribution batch: fresh ids, vectors TRANSLATED by
    +3.0 per dimension. Translation (unlike the 3x scaling of the drift
    test, which preserves direction and therefore cell assignment)
    collapses the batch into the few centroids nearest the offset
    direction — cells stop discriminating, which is the failure mode a
    rebuild exists to fix (measured here: recall 0.125 -> 0.725)."""
    return emb.filter(f"vec_id >= {lo}").selectExpr(
        f"vec_id + {n} AS vec_id",
        "transform(embedding, x -> x + CAST(3.0 AS FLOAT)) AS embedding")


# --- epoch appends ---------------------------------------------------------


def _zone_epochs(spark, index):
    return sorted(r[0] for r in
                  spark.read.parquet(epoch_store.zone_path(spark, index))
                  .select("ingest_batch").distinct().collect())


def test_append_with_epoch_lands_in_own_partition(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    n = emb.count()
    build_ivfpq_index(emb.filter(f"vec_id < {n // 2}"), path)
    report = append_ivfpq_index(emb.filter(f"vec_id >= {n // 2}"), path,
                                epoch=0)
    assert 0.5 < report["drift_ratio"] < 1.5
    idx = epoch_store.read(spark, path)
    assert idx.count() == n
    # the build is the zone, the append its own live epoch
    assert epoch_store.live_epochs(spark, path) == [0]
    assert spark.read.parquet(
        epoch_store.zone_path(spark, path)).count() == n // 2


# --- upto_epoch compaction (round-7 ADVICE) --------------------------------


def test_compaction_upto_epoch_keeps_replayable_epoch_live(spark, emb,
                                                           tmp_path):
    """The ADVICE failure scenario: the stream crashed after writing
    epoch 1 but before committing its checkpoint. Compacting with
    upto_epoch=1 folds only epoch 0; epoch 1 stays live as its own
    partition, so the replay's dynamic overwrite rewrites it instead of
    duplicating rows next to a folded copy."""
    index = str(tmp_path / "idx")
    drift = str(tmp_path / "drift")
    n = emb.count()
    cut = n // 2
    mid = (cut + n) // 2
    build_ivfpq_index(emb.filter(f"vec_id < {cut}"), index)
    sink = ann_ingest_sink(index, drift)
    batch1 = emb.filter(f"vec_id >= {mid}")
    sink(emb.filter(f"vec_id >= {cut} AND vec_id < {mid}"), 0)
    sink(batch1, 1)

    before = _rows(search_ivfpq_index(emb, index, k=5, r=100))
    report = compact_ann_index(spark, index, upto_epoch=1)
    assert report["n_rows"] == n
    assert _zone_epochs(spark, index) == [-1, 0]
    assert epoch_store.live_epochs(spark, index) == [1]
    assert _rows(search_ivfpq_index(emb, index, k=5, r=100)) == before

    # the crashed stream replays epoch 1: row set must be unchanged
    sink(batch1, 1)
    idx = epoch_store.read(spark, index)
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n
    assert _rows(search_ivfpq_index(emb, index, k=5, r=100)) == before


def test_full_compaction_after_replayed_epoch_duplicates_nothing(spark, emb,
                                                                 tmp_path):
    """Follow-up fold: once the checkpoint is committed, a later
    compaction (no guard needed) folds the remaining epoch too."""
    index = str(tmp_path / "idx")
    n = emb.count()
    cut = n // 2
    build_ivfpq_index(emb.filter(f"vec_id < {cut}"), index)
    sink = ann_ingest_sink(index, str(tmp_path / "drift"))
    sink(emb.filter(f"vec_id >= {cut}"), 0)
    compact_ann_index(spark, index, upto_epoch=0)   # folds nothing new
    report = compact_ann_index(spark, index)        # full fold
    assert report["n_rows"] == n
    assert epoch_store.live_epochs(spark, index) == []
    assert _zone_epochs(spark, index) == [-1, 0]
    idx = epoch_store.read(spark, index)
    assert idx.select("vec_id").distinct().count() == n


# --- rebuild (round-7 VERDICT item 4) --------------------------------------


def _recall(spark, corpus, index, query_pred, k=5, nprobe=4, r=20):
    """recall@k of the served index vs exact L2 over the same corpus."""
    exact = {(row["query_id"], row["neighbor_id"])
             for row in l2_topk(corpus, k=k, query_pred=query_pred)
             .collect()}
    approx = {(row["query_id"], row["neighbor_id"])
              for row in search_ivfpq_index(corpus, index, k=k,
                                            nprobe=nprobe, r=r,
                                            query_pred=query_pred)
              .collect()}
    return len(exact & approx) / len(exact)


def test_rebuild_restores_recall_after_drift(spark, emb, tmp_path):
    """Out-of-distribution appends degrade measured recall (the stored
    centroids never saw the shifted cluster, so cells stop
    discriminating); a rebuild retrains on the CURRENT corpus and
    restores it."""
    index = str(tmp_path / "idx")
    n = emb.count()
    cut = n // 2
    base = emb.filter(f"vec_id < {cut}").select("vec_id", "embedding")
    ood = _shifted(emb, cut, n)
    corpus = base.unionByName(ood)

    build_ivfpq_index(base, index)
    report = append_ivfpq_index(ood, index, epoch=0)
    assert report["drift_ratio"] > 2.0  # the retrain signal fired

    ood_pred = f"vec_id >= {n + cut} AND vec_id < {n + cut + 8}"
    degraded = _recall(spark, corpus, index, ood_pred)
    assert degraded <= 0.3, degraded   # cells stopped discriminating

    build_ivfpq_index(corpus, index)  # the rebuild
    # the rebuild replaced the zone and folded the appended epoch away
    assert epoch_store.live_epochs(spark, index) == []
    restored = _recall(spark, corpus, index, ood_pred)
    assert restored > degraded, (degraded, restored)
    assert restored >= 0.6, restored
    # the rebuilt tree is complete and consistent
    idx = epoch_store.read(spark, index)
    assert idx.count() == corpus.count()


def test_in_distribution_rebuild_is_bit_consistent(spark, emb, tmp_path):
    """Same corpus + same seed => same training sample, same quantizer,
    same codes: a rebuild that wasn't needed changes nothing."""
    index = str(tmp_path / "idx")
    build_ivfpq_index(emb, index)
    before = _rows(search_ivfpq_index(emb, index, k=5, r=100))
    cmat0, books0, base0 = _load_quantizer(index)
    build_ivfpq_index(emb, index)  # the rebuild
    cmat1, books1, base1 = _load_quantizer(index)
    assert (cmat0 == cmat1).all() and (books0 == books1).all()
    assert base0 == base1
    assert _rows(search_ivfpq_index(emb, index, k=5, r=100)) == before


def test_maybe_rebuild_acts_on_streamed_drift_log(spark, emb, tmp_path):
    """The automated path: the ingest sink logs drift per epoch; the
    maintenance step reads the latest record and rebuilds only when it
    crosses the threshold."""
    index = str(tmp_path / "idx")
    drift = str(tmp_path / "drift")
    n = emb.count()
    cut = n // 2
    base = emb.filter(f"vec_id < {cut}")
    build_ivfpq_index(base, index)
    sink = ann_ingest_sink(index, drift)

    # in-distribution epoch: no rebuild
    sink(emb.filter(f"vec_id >= {cut}"), 0)
    out = maybe_rebuild_ann_index(spark, index, drift, emb)
    assert out["rebuilt"] is False

    # out-of-distribution epoch: drift crosses 2.0 -> rebuild fires
    ood = _shifted(emb, cut, n)
    sink(ood, 1)
    corpus = emb.select("vec_id", "embedding").unionByName(ood)
    out = maybe_rebuild_ann_index(spark, index, drift, corpus)
    assert out["rebuilt"] is True and out["drift_ratio"] > 2.0
    idx = epoch_store.read(spark, index)
    assert idx.count() == corpus.count()
    # the rebuild is one zone: both streamed epochs are folded away
    assert epoch_store.live_epochs(spark, index) == []
    # served searches still work end-to-end on the rebuilt tree
    assert len(_rows(search_ivfpq_index(corpus, index, k=5, r=100))) > 0
