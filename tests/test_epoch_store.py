"""Epoch store crash windows (operators/epoch_store.py), for each of the
three stores built on it: a compaction that dies between its two
renames, or after its swap but before the folded live epochs are
deleted, leaves a store whose reader still returns every committed row
exactly once and which is still ready; the next compaction restores a
clean store."""

from __future__ import annotations

import os
import shutil
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import epoch_store

SF_DIR = "/root/testdata/sf0.001"


class Store(NamedTuple):
    root: str                   # template: a built zone and live epoch
    tables: list[str]           # 0 in each table dir
    compact: Callable           # (spark, root, upto_epoch) -> None
    probe: Callable             # (spark, root) -> comparable result


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _slices(df, col, k):
    n = df.count()
    return [df.filter(F.col(col).between(i * n // k, (i + 1) * n // k - 1))
            for i in range(k)]


def _sigstore(spark, root):
    from etl_transparencia_sergipe_spark.operators.dedup import (
        minhash_signatures,
    )
    from etl_transparencia_sergipe_spark.operators.sigstore import (
        append_banded_store,
        banded_signatures,
        build_signature_store,
        compact_banded_store,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    built, batch = _slices(docs, "doc_id", 2)
    build_signature_store(built, "doc_id", "text", root)
    append_banded_store(
        banded_signatures(minhash_signatures(batch, "doc_id", "text")),
        root, 0)

    def compact(spark, path, upto):
        compact_banded_store(spark, path, upto_epoch=upto, n_files=2)

    return [""], compact, lambda spark, path: None


def _canonical(spark, root):
    from etl_transparencia_sergipe_spark.operators.canonical import (
        absorb_batch,
        build_canonical_state,
        compact_canonical_state,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "barn while rain falls softly on the quiet village road")
    old = docs([(i, base) for i in range(3)])
    build_canonical_state(old, "doc_id", "text", root)
    # one copy of the clique and one fresh doc: the epoch writes all
    # three tables
    batch = docs([(100, base), (200, " ".join(f"w{i}" for i in range(12)))])
    absorb_batch(spark, root, old.unionByName(batch), batch, "doc_id",
                 "text", 0)

    def compact(spark, path, upto):
        compact_canonical_state(spark, path, upto_epoch=upto, n_files=2)

    return ["labels", "sigs", "texts"], compact, lambda spark, path: None


def _ann_index(spark, root):
    from etl_transparencia_sergipe_spark.operators.ann_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ann_index,
        search_ivfpq_index,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    built, batch = _slices(emb, "vec_id", 2)
    build_ivfpq_index(built, root)
    append_ivfpq_index(batch, root, 0)

    def compact(spark, path, upto):
        report = compact_ann_index(spark, path, upto_epoch=upto)
        assert report["n_rows"] == emb.count()

    def probe(spark, path):
        return _rows(search_ivfpq_index(emb, path, k=5, r=100))

    return [""], compact, probe


@pytest.fixture(scope="module",
                params=[_sigstore, _canonical, _ann_index],
                ids=["sigstore", "canonical", "ann_index"])
def store(request, spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("epoch_store") / "store")
    tables, compact, probe = request.param(spark, root)
    for t in tables:
        assert epoch_store.live_epochs(spark, os.path.join(root, t)) == [0]
    return Store(root, tables, compact, probe)


def _counts(spark, store, root):
    """Per table: (rows read, distinct rows read)."""
    out = []
    for t in store.tables:
        df = epoch_store.read(spark, os.path.join(root, t))
        out.append((df.count(), df.distinct().count()))
    return out


@pytest.mark.parametrize("crash", ["after_first_rename",
                                   "before_live_cleanup"])
def test_crash_window_reads_every_row_once(spark, store, crash, tmp_path):
    expected = _counts(spark, store, store.root)
    assert all(n == d for n, d in expected)
    expected_probe = store.probe(spark, store.root)

    root = str(tmp_path / "store")
    shutil.copytree(store.root, root)
    tables = [os.path.join(root, t) for t in store.tables]
    if crash == "after_first_rename":
        # the old zone renamed away, the new one not yet renamed in
        for t in tables:
            os.rename(os.path.join(t, "_compacted"),
                      os.path.join(t, "_compact_old"))
    else:
        # the swap finished (zone folded through epoch 0), the folded
        # live epoch 0 not yet deleted
        saved = str(tmp_path / "saved")
        for i, t in enumerate(tables):
            shutil.copytree(os.path.join(t, "ingest_batch=0"),
                            os.path.join(saved, str(i)))
        store.compact(spark, root, 1)
        for i, t in enumerate(tables):
            assert not os.path.exists(os.path.join(t, "ingest_batch=0"))
            shutil.copytree(os.path.join(saved, str(i)),
                            os.path.join(t, "ingest_batch=0"))

    for t in tables:
        assert epoch_store.ready(spark, t)
    assert _counts(spark, store, root) == expected
    assert store.probe(spark, root) == expected_probe

    # the next compaction repairs, then folds: a clean store
    store.compact(spark, root, 1)
    for t in tables:
        leftovers = [d for d in os.listdir(t)
                     if d.startswith("ingest_batch=")
                     or d in ("_compact_old", "_compact_tmp")]
        assert leftovers == []
        assert epoch_store.ready(spark, t)
    assert _counts(spark, store, root) == expected
    assert store.probe(spark, root) == expected_probe
