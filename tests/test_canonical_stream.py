"""Streaming canonical-contraction ingest (streaming/canonical_stream):
cross-batch contraction through foreachBatch epochs, replay
idempotency of the probe-verify-absorb loop, and batch-path interop
on the grown state."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.canonical import (
    build_canonical_state,
    probe_canonical_state,
)
from etl_transparencia_sergipe_spark.streaming.canonical_stream import (
    canonical_ingest_sink,
)
from etl_transparencia_sergipe_spark.streaming.pipeline import ingest_files

_BASE = ("the quick brown fox jumps over the lazy dog near the old barn "
         "while rain falls softly on the quiet village road")
_NEW_A = ("a brand new document about streaming watermarks and stateful "
          "session window aggregation semantics in spark")
_NEW_B = ("unrelated prose describing parquet bloom filters zone maps "
          "and dynamic partition overwrite commit protocols")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _snapshot(spark, state, matches):
    """Sorted rows of the matches table and the three state stores."""
    return [_rows(spark.read.parquet(matches))] + [
        _rows(epoch_store.read(spark, f"{state}/{t}"))
        for t in ("labels", "sigs", "texts")]


@pytest.fixture()
def streamed(spark, tmp_path):
    """State on a 4-doc clique + 1 singleton; TWO stream batches:
    batch0 = [clique dup, NEW_A], batch1 = [NEW_A dup, NEW_B]."""
    old = _docs(spark, [(i, _BASE + " tail common") for i in range(4)]
                + [(9, "lonely text about something else entirely "
                       "with no shared shingles anywhere here")])
    state = str(tmp_path / "state")
    build_canonical_state(old, "doc_id", "text", state)

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    batches = [
        _docs(spark, [(100, _BASE + " tail common"), (101, _NEW_A)]),
        _docs(spark, [(200, _NEW_A), (201, _NEW_B)]),
    ]
    for i, b in enumerate(batches):
        w = tmp_path / f"w{i}"
        b.coalesce(1).write.parquet(str(w))
        part = next(p for p in w.iterdir()
                    if p.name.endswith(".parquet"))
        part.rename(incoming / f"batch{i}.parquet")
        shutil.rmtree(w)

    matches = str(tmp_path / "matches")
    ingest_files(spark, str(incoming), canonical_ingest_sink(state, matches),
                 str(tmp_path / "ckpt"))
    return state, matches, batches


def test_cross_batch_contraction_through_epochs(spark, streamed):
    state, matches, _ = streamed
    m = {(r["new_id"], r["canonical_id"])
         for r in spark.read.parquet(matches).collect()}
    # batch0: 100 matched the historical clique's canonical (0);
    # 101 was fresh -> no match row
    assert (100, 0) in m
    # batch1: 200 matched the canonical MINTED BY batch0 (101) — the
    # contraction carries across stream epochs
    assert (200, 101) in m
    assert not any(n in (101, 201) for n, _ in m)

    lab = {r["node"]: r["canonical_id"]
           for r in epoch_store.read(spark, state + "/labels").collect()}
    assert lab[100] == 0 and lab[101] == 101
    assert lab[200] == 101 and lab[201] == 201
    # canonical store grew by UNMATCHED docs only
    sig_ids = {r[0] for r in epoch_store.read(spark, state + "/sigs")
               .select("doc_id").distinct().collect()}
    assert sig_ids == {0, 9, 101, 201}
    txt_ids = {r[0] for r in epoch_store.read(spark, state + "/texts")
               .select("doc_id").distinct().collect()}
    assert txt_ids == {0, 9, 101, 201}


def test_epoch_replay_is_idempotent(spark, streamed):
    state, matches, batches = streamed
    before = _snapshot(spark, state, matches)
    sink = canonical_ingest_sink(state, matches)
    sink(batches[1], 1)  # replay the finished epoch 1
    assert _snapshot(spark, state, matches) == before


def test_batch_path_probes_the_stream_grown_state(spark, streamed):
    state, _, _ = streamed
    probe = _docs(spark, [(500, _NEW_B)])
    texts = (epoch_store.read(spark, state + "/texts")
             .selectExpr("doc_id", "text"))
    got = probe_canonical_state(spark, state,
                                texts.unionByName(probe), probe,
                                "doc_id", "text").collect()
    assert len(got) == 1 and got[0]["canonical_id"] == 201


def test_replay_semi_join_fallback_matches_in_pushdown(spark, streamed):
    """Round-8 ADVICE: past the pushdown budget the texts scan degrades
    to a semi-join instead of an uncapped In literal. pushdown_max_keys=0
    forces that path on a replay — state and matches must come out
    bit-identical to the In-pushdown run."""
    state, matches, batches = streamed
    before = _snapshot(spark, state, matches)
    sink = canonical_ingest_sink(state, matches, pushdown_max_keys=0)
    sink(batches[1], 1)
    assert _snapshot(spark, state, matches) == before


def test_auto_compaction_growth_sweep(spark, tmp_path):
    """Round-9 VERDICT item 4: canonical_ingest_sink's compact_every
    cadence keeps all three state tables' epoch trees bounded across a
    64-epoch sweep — live partition dirs never exceed the cadence,
    matches/labels are bit-identical to an uncompacted twin, and
    replaying the compaction-trigger epoch converges (crash repair:
    the replay re-enters the same compact_canonical_state call)."""
    import pathlib

    def _dirs(root):
        return sorted(int(p.name.split("=", 1)[1])
                      for p in pathlib.Path(root).glob("ingest_batch=*"))

    def _doc(spark, e):
        if e % 2 == 0:  # a fresh copy of the historical clique content
            return _docs(spark, [(100 + e, _BASE + " tail common")])
        # genuinely novel content per odd epoch: hash-derived words so
        # char-shingle overlap across epochs is negligible (numeric-only
        # variation would leave near-dup trigram sets)
        import hashlib

        words = " ".join(hashlib.md5(f"{e}:{i}".encode()).hexdigest()[:8]
                         for i in range(10))
        return _docs(spark, [(100 + e, words)])

    epochs = 64
    states = {}
    for mode, every in (("auto", 16), ("off", None)):
        old = _docs(spark, [(i, _BASE + " tail common") for i in range(4)]
                    + [(9, "lonely text about something else entirely "
                           "with no shared shingles anywhere here")])
        state = str(tmp_path / f"state_{mode}")
        matches = str(tmp_path / f"matches_{mode}")
        build_canonical_state(old, "doc_id", "text", state)
        sink = canonical_ingest_sink(state, matches, compact_every=every)
        for e in range(epochs):
            sink(_doc(spark, e), e)
        states[mode] = (state, matches)

    auto, off = states["auto"], states["off"]
    # last fold at epoch 48: live dirs are 48..63, the zone holds the
    # build and epochs 0..47. labels get a partition every epoch;
    # sigs/texts only on UNMATCHED (odd/fresh) epochs — matched docs'
    # signatures are never appended (the contraction invariant), so an
    # all-matched epoch writes no dir. Uncompacted, the zone holds the
    # build alone and every epoch stays live.
    expect_auto = {"labels": list(range(48, 64)),
                   "sigs": list(range(49, 64, 2)),
                   "texts": list(range(49, 64, 2))}
    expect_off = {"labels": list(range(epochs)),
                  "sigs": list(range(1, epochs, 2)),
                  "texts": list(range(1, epochs, 2))}

    def _zone_epochs(root):
        return sorted(r[0] for r in
                      spark.read.parquet(epoch_store.zone_path(spark, root))
                      .select("ingest_batch").distinct().collect())

    for table in ("labels", "sigs", "texts"):
        assert _dirs(f"{auto[0]}/{table}") == expect_auto[table], table
        assert _dirs(f"{off[0]}/{table}") == expect_off[table], table
        assert _zone_epochs(f"{auto[0]}/{table}") == \
            [-1] + [e for e in expect_off[table] if e < 48], table
        assert _zone_epochs(f"{off[0]}/{table}") == [-1], table
    # content identical to the uncompacted twin
    for table in ("labels", "texts"):
        a = _rows(epoch_store.read(spark, f"{auto[0]}/{table}")
                  .drop("ingest_batch"))
        b = _rows(epoch_store.read(spark, f"{off[0]}/{table}")
                  .drop("ingest_batch"))
        assert a == b, table
    assert _rows(spark.read.parquet(auto[1])) == \
        _rows(spark.read.parquet(off[1]))
    # every clique copy matched the historical canonical, cross-epoch
    m = {r["new_id"]: r["canonical_id"]
         for r in spark.read.parquet(auto[1]).collect()}
    assert all(m[100 + e] == 0 for e in range(0, epochs, 2))
    assert not any(100 + e in m for e in range(1, epochs, 2))
    # replay the trigger epoch (48): compaction re-runs with the same
    # upto_epoch, then the epoch dynamic-overwrites itself — converge
    before = _snapshot(spark, auto[0], auto[1])
    sink = canonical_ingest_sink(auto[0], auto[1], compact_every=16)
    sink(_doc(spark, 48), 48)
    assert _snapshot(spark, auto[0], auto[1]) == before


def test_sink_requires_built_state(spark, tmp_path):
    sink = canonical_ingest_sink(str(tmp_path / "nostate"),
                                 str(tmp_path / "m"))
    with pytest.raises(RuntimeError, match="texts"):
        sink(_docs(spark, [(1, "anything at all")]), 0)


def test_canonical_sigs_store_compacts_with_sigstore_lsm(spark, streamed):
    """The canonical state's signature store IS the sigstore banded
    layout, so the existing LSM compaction applies unchanged: fold the
    stream's epochs below the last committed one, probes stay
    bit-identical, and later epochs keep absorbing."""
    from etl_transparencia_sergipe_spark.operators.sigstore import (
        compact_banded_store,
    )

    state, _, batches = streamed
    probe = _docs(spark, [(500, _NEW_B), (501, _NEW_A)])
    texts = (epoch_store.read(spark, state + "/texts")
             .selectExpr("doc_id", "text"))
    before = _rows(probe_canonical_state(
        spark, state, texts.unionByName(probe), probe, "doc_id", "text"))
    assert len(before) == 2  # both streamed canonicals found

    # fold epoch 0 into the zone that holds the build (strictly below
    # the last committed epoch 1)
    compact_banded_store(spark, state + "/sigs", upto_epoch=1)
    after = _rows(probe_canonical_state(
        spark, state, texts.unionByName(probe), probe, "doc_id", "text"))
    assert after == before

    # the sink keeps working against the compacted store: replaying
    # the still-live epoch 1 remains idempotent
    sink = canonical_ingest_sink(state, state + "/../matches")
    sink(batches[1], 1)
    # fresh read: the replay dynamic-overwrote texts/ingest_batch=1, so
    # the pre-replay DataFrame's file listing is stale by design
    texts = (epoch_store.read(spark, state + "/texts")
             .selectExpr("doc_id", "text"))
    assert _rows(probe_canonical_state(
        spark, state, texts.unionByName(probe), probe,
        "doc_id", "text")) == before
