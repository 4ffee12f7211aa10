"""Canonical-representative contraction for the dedup tier (round-7
VERDICT item 1 — the recorded-but-unbuilt 100 TB mitigation).

The quadratic that survives banded LSH is the VERIFY stage on
clique-dense corpora: within a duplicate cluster of m documents every
band bucket holds all m members, so a new batch's documents each verify
against ~m stored docs and a full self-dedup (q31) verifies m^2/2 true
pairs per clique — measured 390 s at sf10 on the deliberately
clique-dense fixture. Contraction replaces the cluster by ONE canonical
representative (its min doc id — exactly the component label
operators/components.py already computes): a new document is verified
against one doc per CLUSTER it collides with, never per member, so
batch-verify cost is ~linear in batch size regardless of how dense the
historical duplicate structure is.

State (built once per corpus era, the q81 storage posture), three
epoch stores (operators/epoch_store.py) that a stream keeps growing:

    <path>/labels/   [node, canonical_id]  — every doc's cluster label
                     (singletons label themselves)
    <path>/sigs/     banded MinHash signature store
                     (operators/sigstore.py layout) of CANONICAL docs
                     ONLY — the band join's old side
    <path>/texts/    [doc_id, text] of canonical docs — the exact verify
                     reads candidates from here, never the corpus

Probe: band-join the new batch against the canonical store
(probe_signature_store — O(batch) broadcast, store side pruned), then
exact-Jaccard verify each (new doc, canonical) candidate once
(jaccard_verify_pairs — shingle sets built once per candidate doc).

The recall trade is explicit and standard: a new near-dup of cluster X
is found iff it band-collides with X's CANONICAL (not with any member).
For transitive near-dup clusters (the reason X is a cluster at all) the
canonical is a near-dup of every member, so a new copy of the cluster's
content collides with it in expectation exactly as it would with any
single member; what is given up is the member-specific long tail — the
price of deleting the quadratic.

Reference parity: the reference consolidates per-month CSVs and keeps
one row per logical record (``src/utils/file_utils.py:22-57``); this is
that keep-one-representative posture applied to content-defined
duplicate clusters at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators.components import (
    connected_components,
)
from etl_transparencia_sergipe_spark.operators.dedup import (
    jaccard_verify_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
)
from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.sigstore import (
    append_banded_store,
    banded_signatures,
    build_signature_store,
    compact_banded_store,
    probe_signature_store,
)

# sort key of each plain state table's zone: the sink's candidate-id In
# filter prunes row groups on it (sigs cluster on band_hash, sigstore's)
_KEYS = {"labels": "node", "texts": "doc_id"}


def _labels_path(path: str) -> str:
    return path.rstrip("/") + "/labels"


def _sigs_path(path: str) -> str:
    return path.rstrip("/") + "/sigs"


def _texts_path(path: str) -> str:
    return path.rstrip("/") + "/texts"


def build_canonical_state(docs_old: DataFrame, id_col: str, text_col: str,
                          path: str, k: int = 16, bands: int = 4,
                          n: int = 3, threshold: float = 0.4) -> dict:
    """Cluster the OLD corpus once and persist the contraction state.

    1. near-dup pairs (banded MinHash LSH + exact verify — the q31
       operator) over the old corpus;
    2. connected components -> labels [node, canonical_id] where the
       canonical IS the component label (min member id); docs in no
       pair label themselves;
    3. the banded signature store and the texts of canonical docs only.

    The full text scan happens HERE, once; every later batch probe
    reads the canonical band index + the candidate canonicals' text.
    Each table is written as its store's zone (a full replacement), so
    a stream's epoch 0 probes it and absorbs beside it.
    Returns {"n_docs", "n_canonicals"}.
    """
    spark = docs_old.sparkSession
    pairs = minhash_lsh_pairs(docs_old, id_col, text_col, k=k,
                              bands=bands, threshold=threshold, n=n)
    cc = connected_components(pairs)
    ids = docs_old.select(F.col(id_col).alias("node"))
    singles = (ids.join(cc, "node", "left_anti")
               .withColumn("component", F.col("node")))
    labels = (cc.unionByName(singles)
              .withColumnRenamed("component", "canonical_id"))
    epoch_store.compact(spark, _labels_path(path), replace=labels,
                        sort_by=[_KEYS["labels"]])

    labels = epoch_store.read(spark, _labels_path(path))
    canon_ids = (labels.select(F.col("canonical_id").alias(id_col))
                 .distinct())
    canon_docs = docs_old.join(canon_ids, id_col, "left_semi")
    build_signature_store(canon_docs, id_col, text_col, _sigs_path(path),
                          k=k, n=n, bands=bands)
    epoch_store.compact(
        spark, _texts_path(path),
        replace=canon_docs.select(F.col(id_col).alias("doc_id"),
                                  F.col(text_col).alias("text")),
        sort_by=[_KEYS["texts"]])
    return {"n_docs": int(labels.count()),
            "n_canonicals": int(canon_ids.count())}


def compact_canonical_state(spark: SparkSession, path: str,
                            upto_epoch: int, n_files: int = 8) -> None:
    """LSM-compact the three state tables (round-9 VERDICT item 4):
    fold every live ``ingest_batch < upto_epoch`` epoch into each
    table's zone — signatures band_hash-clustered (the probe's pushed-In
    zone maps), labels/texts id-clustered (the sink's candidate-id In
    filter prunes row groups the same way). Each table is its own epoch
    store with its own swap (replay and crash contract: epoch_store)."""
    compact_banded_store(spark, _sigs_path(path), upto_epoch,
                         n_files=n_files)
    for table, key in _KEYS.items():
        epoch_store.compact(spark, f"{path.rstrip('/')}/{table}",
                            upto_epoch, sort_by=[key], n_files=n_files)


def probe_canonical_state(spark: SparkSession, path: str,
                          docs_all: DataFrame, new_docs: DataFrame,
                          id_col: str, text_col: str, k: int = 16,
                          bands: int = 4, n: int = 3,
                          threshold: float = 0.4,
                          ingest_batch_lt: int | None = None,
                          broadcast_verify: bool = False) -> DataFrame:
    """Verify a NEW batch against one canonical per cluster.

    Returns DataFrame[new_id, canonical_id, jaccard] — one row per
    (new doc, matched cluster) with exact Jaccard >= threshold. The
    band join produces at most one candidate per (new doc, colliding
    CLUSTER); the exact verify therefore does work linear in the
    batch's true cluster matches, never in cluster sizes.

    ``docs_all`` supplies candidate text for the exact verify (both the
    new docs and the canonical docs must be rows of it — for the
    registered query it is simply the documents table; the streaming
    sink passes the state's own texts table plus the batch).
    ``ingest_batch_lt`` restricts the canonical store to epochs strictly
    below the given one (the epoch_store replay contract).
    """
    cand = (
        probe_signature_store(spark, _sigs_path(path), new_docs,
                              id_col, text_col, k=k, bands=bands, n=n,
                              ingest_batch_lt=ingest_batch_lt)
        # all band collisions are candidates; scoring is the EXACT
        # verify below, not the minhash n_agree estimate
        .selectExpr("old_id AS id_a", "new_id AS id_b")
    )
    return (
        jaccard_verify_pairs(docs_all, cand, id_col, text_col, n,
                             broadcast_side=broadcast_verify)
        .filter(F.col("jaccard") >= threshold)
        .selectExpr("id_b AS new_id", "id_a AS canonical_id", "jaccard")
    )


def absorb_batch(spark: SparkSession, path: str, docs_all: DataFrame,
                 new_docs: DataFrame, id_col: str, text_col: str,
                 epoch: int, k: int = 16, bands: int = 4, n: int = 3,
                 threshold: float = 0.4,
                 matches: DataFrame | None = None) -> DataFrame:
    """Probe, then fold the batch into the state as epoch ``epoch`` —
    the production loop.

    Matched new docs adopt their best-match cluster's canonical (max
    jaccard, ties to the smallest canonical id — deterministic);
    unmatched new docs become their own canonicals: their labels row
    points at themselves and their signatures and text enter the
    canonical store so later batches can match them. Matched docs'
    signatures are NOT appended — that is the contraction invariant
    (one signature set per cluster, forever).

    The probe reads only state epochs below ``epoch`` and every write
    replaces the epoch's own partition (epoch_store replay contract), so
    a replayed epoch converges bit-identically.

    ``matches``: a caller that already probed (the streaming sink
    persists one probe and shares it between the matches table and the
    absorb) passes the [new_id, canonical_id, jaccard] frame in; None
    probes here.

    Returns the batch's new labels [node, canonical_id].
    """
    from etl_transparencia_sergipe_spark.caching import (
        checkpoint_rdd_id,
        unpersist_rdd_ids,
    )

    if matches is None:
        matches = probe_canonical_state(
            spark, path, docs_all, new_docs, id_col, text_col, k=k,
            bands=bands, n=n, threshold=threshold,
            ingest_batch_lt=int(epoch))
    # The batch's best matches, and the batch rows tagged with them
    # (null: unmatched), are computed once and checkpointed: all three
    # writes read them. A plan-level cache would not hold — its plan
    # scans the sigs and texts stores, so the sigs write invalidates it
    # (Spark re-caches every cached plan that reads a path it writes)
    # and the texts write re-ran the whole probe and verify.
    best = (matches
            .withColumn("_r", F.row_number().over(
                W.partitionBy("new_id")
                .orderBy(F.desc("jaccard"), F.asc("canonical_id"))))
            .filter("_r = 1")
            .selectExpr("new_id AS node", "canonical_id")
            .localCheckpoint())
    tagged = (new_docs.select(id_col, text_col)
              .join(best.withColumnRenamed("node", id_col), id_col, "left")
              .localCheckpoint())
    try:
        unmatched = tagged.filter(F.col("canonical_id").isNull())
        new_labels = best.unionByName(unmatched.select(
            F.col(id_col).alias("node"),
            F.col(id_col).alias("canonical_id")))
        fresh_canon = unmatched.filter(F.col(id_col).isNotNull())
        sig = minhash_signatures(fresh_canon, id_col, text_col, k=k, n=n)

        epoch_store.write(new_labels, _labels_path(path), epoch)
        append_banded_store(banded_signatures(sig, k, bands),
                            _sigs_path(path), epoch)
        epoch_store.write(fresh_canon.select(F.col(id_col).alias("doc_id"),
                                             F.col(text_col).alias("text")),
                          _texts_path(path), epoch)
    finally:
        unpersist_rdd_ids(spark, {checkpoint_rdd_id(best),
                                  checkpoint_rdd_id(tagged)})
    return (epoch_store.read(spark, _labels_path(path))
            .select("node", "canonical_id")
            .join(new_docs.selectExpr(f"{id_col} AS node"), "node",
                  "left_semi"))
