"""Streaming vector ingestion (streaming/ann_stream.py): the stream-grown
index serves searches bit-identical to a full re-encode under the same
quantizer; epoch replay is partition-idempotent; drift is logged per
micro-batch."""

from __future__ import annotations

import os

import pytest

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.ann_index import (
    _load_quantizer,
    build_ivfpq_index,
    search_ivfpq_index,
)
from etl_transparencia_sergipe_spark.streaming.ann_stream import (
    ann_ingest_sink,
)
from etl_transparencia_sergipe_spark.streaming.pipeline import ingest_files

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@pytest.fixture(scope="module")
def grown(spark, emb, tmp_path_factory):
    """Base index on the first 3/4; the last quarter arrives as TWO
    single-file stream batches. Returns (index, drift, stream_dir, n)."""
    base = tmp_path_factory.mktemp("ann_stream")
    n = emb.count()
    cut = 3 * n // 4
    stream_dir = base / "incoming"
    stream_dir.mkdir()
    mid = (cut + n) // 2
    for i, (lo, hi) in enumerate([(cut, mid), (mid, n)]):
        (emb.filter(f"vec_id >= {lo} AND vec_id < {hi}")
         .coalesce(1).write.parquet(str(base / f"w{i}")))
        part = next(p for p in (base / f"w{i}").iterdir()
                    if p.name.endswith(".parquet"))
        part.rename(stream_dir / f"batch{i}.parquet")
        import shutil

        shutil.rmtree(base / f"w{i}")

    index = str(base / "index")
    drift = str(base / "drift")
    build_ivfpq_index(emb.filter(f"vec_id < {cut}"), index)
    ingest_files(spark, str(stream_dir), ann_ingest_sink(index, drift),
                 str(base / "ckpt"), max_files_per_trigger=1)
    return index, drift, str(stream_dir), n


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_grown_index_serves_full_corpus(spark, emb, grown,
                                               tmp_path):
    """Searching the stream-grown index == searching a fresh full-corpus
    encode under the SAME (reused) quantizer — the ann_index equality,
    with the appends arriving through foreachBatch epochs."""
    index, _, _, n = grown
    idx = epoch_store.read(spark, index)
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n
    # the built zone + two live stream epochs
    assert epoch_store.live_epochs(spark, index) == [0, 1]

    cmat, books, _ = _load_quantizer(index)
    rebuilt = str(tmp_path / "rebuilt")
    build_ivfpq_index(emb, rebuilt, constants=(cmat, books))
    a = _rows(search_ivfpq_index(emb, index, k=5, r=100))
    b = _rows(search_ivfpq_index(emb, rebuilt, k=5, r=100))
    assert a == b
    assert len(a) > 0


def test_epoch_replay_is_idempotent(spark, grown):
    """Replay one finished epoch through the sink under its original
    epoch id (retry after a sink crash): the index row set and the
    drift table must come out bit-identical — dynamic partition
    overwrite rewrites ingest_batch=N/cell=*, never appends."""
    index, drift, stream_dir, _ = grown
    idx_before = _rows(epoch_store.read(spark, index))
    drift_before = _rows(spark.read.parquet(drift))

    batch1 = spark.read.parquet(os.path.join(stream_dir, "batch1.parquet"))
    some_id = batch1.select("vec_id").first()[0]
    epoch = (epoch_store.read(spark, index)
             .filter(f"vec_id = {some_id}")
             .select("ingest_batch").first()[0])
    sink = ann_ingest_sink(index, drift)
    sink(batch1, int(epoch))

    assert _rows(epoch_store.read(spark, index)) == idx_before
    assert _rows(spark.read.parquet(drift)) == drift_before


def test_drift_logged_per_epoch_in_distribution(spark, grown):
    """One drift record per stream epoch; in-distribution appends sit
    near the training baseline (the same 0.5-1.5 band the batch append
    test pins)."""
    _, drift, _, _ = grown
    d = spark.read.parquet(drift)
    recs = {r["batch_id"]: r for r in d.collect()}
    assert len(recs) == 2
    for r in recs.values():
        assert r["n_rows"] > 0
        assert r["baseline_resid_sq"] > 0
        assert 0.5 < r["drift_ratio"] < 1.5


def test_compaction_preserves_search_and_merges_epochs(spark, emb,
                                                       tmp_path):
    """compact_ann_index folds all ingest epochs into the zone: search
    results bit-identical, no live epoch left, fewer files."""
    from etl_transparencia_sergipe_spark.operators.ann_index import (
        compact_ann_index,
    )

    index = str(tmp_path / "idx")
    drift = str(tmp_path / "drift")
    n = emb.count()
    cut = n // 2
    build_ivfpq_index(emb.filter(f"vec_id < {cut}"), index)
    sink = ann_ingest_sink(index, drift)
    mid = (cut + n) // 2
    sink(emb.filter(f"vec_id >= {cut} AND vec_id < {mid}"), 0)
    sink(emb.filter(f"vec_id >= {mid}"), 1)

    before = _rows(search_ivfpq_index(emb, index, k=5, r=100))
    report = compact_ann_index(spark, index)
    after = _rows(search_ivfpq_index(emb, index, k=5, r=100))
    assert after == before
    idx = epoch_store.read(spark, index)
    assert idx.count() == n == report["n_rows"]
    assert epoch_store.live_epochs(spark, index) == []
    assert report["n_files_after"] < report["n_files_before"]
    # append-after-compact still works: the quantizer artifact survived
    sink(emb.filter(f"vec_id >= {mid}").selectExpr(
        f"vec_id + {n} AS vec_id", "embedding"), 2)
    assert epoch_store.read(spark, index).count() == n + (n - mid)


def test_auto_compaction_growth_sweep(spark, emb, tmp_path):
    """Round-9 VERDICT item 4: the sink's own compact_every cadence
    keeps the epoch tree bounded across a 64-epoch growth sweep —
    live partitions never exceed the cadence, file count stays
    far below the uncompacted one-dir-per-epoch trajectory, search
    results are bit-identical to an uncompacted twin, and replaying
    the exact compaction-trigger epoch (the crash-repair path: the
    replay re-enters the same compact_ann_index call) converges."""
    n = emb.count()
    cut = n // 2
    per = 2  # vectors per epoch
    epochs = 64
    paths = {}
    for mode, every in (("auto", 16), ("off", None)):
        index = str(tmp_path / f"idx_{mode}")
        build_ivfpq_index(emb.filter(f"vec_id < {cut}"), index)
        sink = ann_ingest_sink(index, str(tmp_path / f"drift_{mode}"),
                               compact_every=every)
        for e in range(epochs):
            lo = cut + (e * per) % (n - cut - per)
            sink(emb.filter(f"vec_id >= {lo} AND vec_id < {lo + per}")
                 .selectExpr(f"vec_id + {1000 + e * per} AS vec_id",
                             "embedding"), e)
        paths[mode] = index

    def _nfiles(root):
        import pathlib

        return sum(1 for p in pathlib.Path(root).rglob("*.parquet"))

    auto, off = paths["auto"], paths["off"]
    # last fold at epoch 48 -> live epochs 48..63, the rest in the zone
    assert epoch_store.live_epochs(spark, auto) == list(range(48, 64))
    assert epoch_store.live_epochs(spark, off) == list(range(epochs))
    assert _nfiles(auto) < _nfiles(off) / 2
    # identical content and identical search results
    assert epoch_store.read(spark, auto).count() == \
        epoch_store.read(spark, off).count()
    q = emb.filter("vec_id < 20")
    assert _rows(search_ivfpq_index(q, auto, k=5, r=100)) == \
        _rows(search_ivfpq_index(q, off, k=5, r=100))
    # replay the LAST compaction-trigger epoch (48): compaction re-runs
    # with the same upto_epoch, the epoch's own partitions are
    # dynamic-overwritten — the tree must converge bit-identically
    before = _rows(epoch_store.read(spark, auto))
    e = 48
    lo = cut + (e * per) % (n - cut - per)
    sink = ann_ingest_sink(auto, str(tmp_path / "drift_auto"),
                           compact_every=16)
    sink(emb.filter(f"vec_id >= {lo} AND vec_id < {lo + per}")
         .selectExpr(f"vec_id + {1000 + e * per} AS vec_id",
                     "embedding"), e)
    assert _rows(epoch_store.read(spark, auto)) == before


def test_search_prunes_cells_on_epoch_layout(spark, emb, grown):
    """Cell-partition pruning survives the two-level
    ingest_batch/cell tree: PartitionFilters still carry the cell
    predicate."""
    index, _, _, _ = grown
    out = search_ivfpq_index(emb, index, k=5, nprobe=2, r=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan
    out.collect()
