"""Streaming ingestion dedup (streaming/sigstore_stream.py).

Covers: batched file-stream ingest probing the persisted signature
store, store growth per batch, cross-batch-only flagging, equivalence
with the batch-built store, and idempotent epoch replay.
"""

from __future__ import annotations

import os

import pytest

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.sigstore import (
    build_signature_store,
    probe_signature_store,
    signatures_from_banded,
)
from etl_transparencia_sergipe_spark.streaming.sigstore_stream import (
    run_ingest_dedup,
    sigstore_ingest_sink,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_batches(spark, tmp_path_factory):
    """documents split into 3 single-file ingest batches by doc_id."""
    base = tmp_path_factory.mktemp("doc_stream")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n = docs.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        (docs.filter(f"doc_id >= {cuts[i]} AND doc_id < {cuts[i + 1]}")
         .coalesce(1).write.parquet(str(base / f"b{i}.parquet")))
        # flatten: move the part file up so the dir is 3 parquet FILES
        part_dir = base / f"b{i}.parquet"
        part = next(p for p in part_dir.iterdir()
                    if p.name.endswith(".parquet"))
        part.rename(base / f"batch{i}.parquet")
        import shutil

        shutil.rmtree(part_dir)
    return str(base), n


def _run(spark, docs_dir, tmp, tag):
    store = str(tmp / f"store_{tag}")
    flags = str(tmp / f"flags_{tag}")
    ckpt = str(tmp / f"ckpt_{tag}")
    run_ingest_dedup(spark, docs_dir, store, flags, ckpt,
                     max_files_per_trigger=1, min_agree=8)
    return store, flags


def test_stream_ingest_builds_full_store(spark, docs_batches, tmp_path):
    docs_dir, n = docs_batches
    store, _ = _run(spark, docs_dir, tmp_path, "full")
    banded = epoch_store.read(spark, store)
    # banded layout (store v2): one row per (doc, band), 4 bands
    assert banded.count() == 4 * n
    assert signatures_from_banded(banded).count() == n
    # one partition per micro-batch (3 files -> 3 epochs)
    assert banded.select("ingest_batch").distinct().count() == 3


def test_stream_flags_are_cross_batch_only(spark, docs_batches, tmp_path):
    docs_dir, _ = docs_batches
    store, flags = _run(spark, docs_dir, tmp_path, "flags")
    sig = epoch_store.read(spark, store)
    fl = spark.read.parquet(flags)
    if fl.count() == 0:
        pytest.skip("no near-dup pairs at this sf")
    # a flagged old_id must come from an earlier ingest batch than new_id
    batches = sig.selectExpr("doc_id", "ingest_batch")
    joined = (
        fl.join(batches.selectExpr("doc_id AS old_id",
                                   "ingest_batch AS old_b"), "old_id")
        .join(batches.selectExpr("doc_id AS new_id",
                                 "ingest_batch AS new_b"), "new_id")
    )
    assert joined.filter("old_b >= new_b").count() == 0


def test_stream_store_matches_batch_store(spark, docs_batches, tmp_path):
    docs_dir, _ = docs_batches
    store, _ = _run(spark, docs_dir, tmp_path, "eq")
    batch_store = str(tmp_path / "store_batch")
    docs = spark.read.parquet(docs_dir)
    build_signature_store(docs, "doc_id", "text", batch_store)
    a = epoch_store.read(spark, store).drop("ingest_batch")
    b = epoch_store.read(spark, batch_store).drop("ingest_batch")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_store_is_probeable_by_batch_path(spark, docs_batches,
                                                 tmp_path):
    docs_dir, _ = docs_batches
    store, _ = _run(spark, docs_dir, tmp_path, "probe")
    probe_docs = spark.read.parquet(docs_dir).limit(5)
    out = probe_signature_store(spark, store, probe_docs, "doc_id", "text")
    # every probe doc collides with (at least) itself already in the store
    hits = out.filter("old_id = new_id").select("old_id").distinct().count()
    assert hits == 5
    # self-pairs agree on all 16 components
    assert out.filter("old_id = new_id AND n_agree <> 16").count() == 0


def test_uncommitted_store_dir_is_not_probed(spark, docs_batches,
                                             tmp_path):
    """A store dir left by a crashed mid-commit write (only _temporary
    inside) must count as ABSENT: the replayed first epoch skips the
    probe instead of failing parquet schema inference and wedging the
    stream (round-5 ADVICE, medium)."""
    docs_dir, _ = docs_batches
    store = tmp_path / "store_crashed"
    (store / "_temporary").mkdir(parents=True)
    flags = tmp_path / "flags_crashed"
    assert not epoch_store.ready(spark, str(store))
    batch0 = spark.read.parquet(os.path.join(docs_dir, "batch0.parquet"))
    sink = sigstore_ingest_sink(str(store), str(flags))
    sink(batch0, 0)  # replayed first epoch: must not raise
    # probe was skipped (no committed store to probe against) ...
    assert not os.path.exists(str(flags))
    # ... the batch's signatures were committed, and the store is now
    # ready for the next epoch
    assert epoch_store.ready(spark, str(store))
    assert signatures_from_banded(
        epoch_store.read(spark, str(store))).count() == batch0.count()


def test_compaction_preserves_probe_and_readiness(spark, docs_batches,
                                                  tmp_path):
    """LSM compaction (operators/sigstore.compact_banded_store): folding
    closed epochs into the store's clustered zone must change
    neither probe results nor store readiness — and a FULLY compacted
    store (zero live partitions) stays probe-able and 'ready'."""
    from etl_transparencia_sergipe_spark.operators.sigstore import (
        compact_banded_store,
    )

    docs_dir, n = docs_batches
    store, _ = _run(spark, docs_dir, tmp_path, "compact")
    probe_docs = spark.read.parquet(docs_dir).limit(7)
    before = sorted(map(tuple, probe_signature_store(
        spark, store, probe_docs, "doc_id", "text").collect()))

    # partial compaction: epochs 0-1 fold, epoch 2 stays live
    compact_banded_store(spark, store, upto_epoch=2, n_files=2,
                         rows_per_group=64)
    assert epoch_store.ready(spark, store)
    assert epoch_store.read(spark, store).count() == 4 * n
    mid = sorted(map(tuple, probe_signature_store(
        spark, store, probe_docs, "doc_id", "text").collect()))
    assert mid == before

    # full compaction: no live partitions remain
    compact_banded_store(spark, store, upto_epoch=10, n_files=8,
                         rows_per_group=64)
    import os as _os
    live_parts = [d for d in _os.listdir(store)
                  if d.startswith("ingest_batch=")]
    assert live_parts == []
    assert epoch_store.ready(spark, store)
    after = sorted(map(tuple, probe_signature_store(
        spark, store, probe_docs, "doc_id", "text").collect()))
    assert after == before
    # ingest_batch survives as a data column (replay filter still works)
    assert "ingest_batch" in epoch_store.read(spark, store).columns
    # the clustered zone's zone maps actually prune: a small probe's In
    # keys miss most row groups (the whole point of compacting)
    from etl_transparencia_sergipe_spark.operators.dedup import (
        minhash_signatures,
    )
    from etl_transparencia_sergipe_spark.operators.layout import (
        inset_skip_fraction,
    )
    from etl_transparencia_sergipe_spark.operators.sigstore import (
        banded_signatures,
    )
    # one-doc probe: 4 band keys against >=8 clustered groups — most
    # groups' [min, max] cannot contain any of them (at real store:batch
    # ratios the bench sweep measures the production number)
    keys = [r[0] for r in banded_signatures(minhash_signatures(
        probe_docs.limit(1), "doc_id", "text"))
        .select("band_hash").collect()]
    stats = inset_skip_fraction(epoch_store.zone_path(spark, store),
                                "band_hash", keys)
    assert stats["n_groups"] >= 8
    assert stats["skip_fraction"] >= 0.3


def test_epoch_replay_is_idempotent(spark, docs_batches, tmp_path):
    """Replay a finished epoch into the SAME store AND flags paths.

    The worst-case retry: the store partition for epoch N was already
    written before the failure. The replayed probe must (a) not match
    the batch against its own epoch's signatures (no self-pairs /
    intra-batch pairs), and (b) rewrite — not append to — epoch N's
    flag partition, leaving the flags table bit-identical.
    """
    docs_dir, _ = docs_batches
    store, flags = _run(spark, docs_dir, tmp_path, "replay")
    sig_before = epoch_store.read(spark, store)
    n_before = sig_before.count()
    flags_before = spark.read.parquet(flags).collect()
    # replay one batch file through the sink under ITS original epoch id
    # (simulated retry after a sink failure), same store + flags paths
    batch2 = spark.read.parquet(os.path.join(docs_dir, "batch2.parquet"))
    some_id = batch2.select("doc_id").first()[0]
    epoch = (sig_before.filter(f"doc_id = {some_id}")
             .select("ingest_batch").first()[0])
    sink = sigstore_ingest_sink(store, flags)
    sink(batch2, int(epoch))
    assert epoch_store.read(spark, store).count() == n_before
    fl_after = spark.read.parquet(flags)
    assert fl_after.filter("old_id = new_id").count() == 0
    assert sorted(map(tuple, fl_after.collect())) == \
        sorted(map(tuple, flags_before))
