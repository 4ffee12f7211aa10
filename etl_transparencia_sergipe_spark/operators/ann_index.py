"""Incremental IVFADC index — build once, append forever, retrain when
drift says so (round-6 VERDICT item 8).

The quantizer artifact store (operators/quantizer_store.py) made the
trained tier build-once/serve-many, but a growing corpus APPENDS
vectors: retraining centroids + codebooks per batch is neither needed
(quantizers drift slowly) nor desirable (a retrain re-encodes the whole
corpus). This module applies the q79/q81 incremental posture to IVF: a
self-contained index directory whose quantizer is trained exactly once,
with new batches ASSIGN-ONLY encoded against the stored constants —
plus a drift self-report that tells the operator when that stops being
a good idea.

Index layout: an epoch store (operators/epoch_store.py) of encoded
rows [vec_id, c0..c{m-1}] with ``cell`` as the inner hive partition,
plus the quantizer (plain parquet, no pickles — the quantizer_store
format) inside the zone it encodes:

    <path>/_compacted/_quantizer.parquet   cmat (n_cells, dim), books
                                           (m, ksub, dsub),
                                           baseline_resid (1, 1): the
                                           training sample's mean
                                           squared coarse-residual norm
    <path>/_compacted/cell=N/part-*.parquet       built / folded codes
    <path>/ingest_batch=E/cell=N/part-*.parquet   appended epochs

Build, rebuild and compaction are each one epoch_store swap, so the
quantizer and its codes become visible together. A search probing
``nprobe`` of ``n_cells`` cells prunes both scans to those cell
directories — the ADC pass reads nprobe/n_cells of the codes, which is
the IVF contract realized at the storage layer.

Drift self-report: appends return mean ||x - c(x)||^2 of the new batch
vs the training baseline. A ratio near 1 means the stored centroids
still cover the incoming distribution; a ratio well above 1 (the test
pins a 3x-scaled batch) means new vectors land far from every
centroid — cells stop discriminating and ADC quality decays, so
retrain + re-encode (rebuild) is warranted. This is the standard
IVF maintenance signal (mean quantization error drift).

Encode/search math is shared bit-for-bit with q102/q103 (the encode
pass, LUTs, ADC scorer and exact refine of similarity.ivf_adc_search),
so an append-built index returns IDENTICAL search results to a fresh
full-corpus encode under the same quantizer —
tests/test_ann_index.py pins that equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import (
    epoch_store,
    quantizer_store,
)
from etl_transparencia_sergipe_spark.operators.similarity import (
    _query_matrix,
    _rank_topk,
    _train_sample,
    adc_scores,
    encode_frame,
    encode_vectors,
    query_luts,
    refine_l2,
    train_quantizers,
)


_QUANTIZER = "_quantizer.parquet"


def _save_quantizer(zone: str, cmat, books, baseline: float) -> None:
    import numpy as np
    from pathlib import Path

    quantizer_store._save(Path(zone) / _QUANTIZER,
                          {"cmat": cmat, "books": books,
                           "baseline_resid": np.array([[baseline]])})


def _load_quantizer(path: str):
    import numpy as np
    from pathlib import Path

    zone = epoch_store.zone_path(SparkSession.active(), path)
    if zone is None:
        raise FileNotFoundError(f"no built ANN index at {path}")
    arrays = quantizer_store._load(Path(zone) / _QUANTIZER)
    return (np.asarray(arrays["cmat"]), np.asarray(arrays["books"]),
            float(arrays["baseline_resid"][0][0]))


def _encode(df: DataFrame, cmat, books, id_col: str,
            vec_col: str) -> DataFrame:
    """Assign-only encode: [vec_id, cell, c0..c{m-1}, resid_sq] — the
    search's residual encode pass, no training. ``resid_sq`` is each
    vector's coarse quantization error, the drift signal."""
    return (encode_frame(df, cmat, books, True, id_col, vec_col)
            .withColumnRenamed("neighbor_id", "vec_id")
            .withColumnRenamed("cell_dist", "resid_sq"))


def _swap(spark: SparkSession, path: str, cmat, books, baseline: float,
          upto_epoch: int | None = None,
          replace: DataFrame | None = None) -> None:
    """The index's one epoch_store swap: one file per cell, the
    quantizer written into the new zone."""
    epoch_store.compact(
        spark, path, upto_epoch, sort_by=["cell"], partition_by=["cell"],
        n_files=int(cmat.shape[0]), replace=replace,
        before_swap=lambda zone: _save_quantizer(zone, cmat, books,
                                                 baseline))


def build_ivfpq_index(corpus: DataFrame, path: str, n_cells: int = 16,
                      m: int = 8, ksub: int = 16, seed: int = 42,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      constants=None) -> dict:
    """Train (or adopt ``constants``) and encode the corpus into the
    index at ``path``, replacing whatever it held — live epochs
    included. Returns the drift baseline record.

    This is also the REBUILD that answers the drift signal (round-7
    VERDICT item 4: appends self-report drift > 2 as "retrain
    warranted"): retrain on the CURRENT corpus sample, re-encode every
    vector, one swap. Same corpus + same seed => bit-identical
    quantizer and codes (kmeans init is seeded, the training sample is
    hash-ordered), so an in-distribution rebuild leaves search results
    unchanged (tests/test_ann_rebuild.py pins that). Run it between
    stream runs: a checkpoint that replays an already-re-encoded epoch
    would duplicate its rows."""
    import numpy as np

    X = _train_sample(corpus, id_col, vec_col, 65536)
    if constants is None:
        q = train_quantizers(X, n_cells=n_cells, m=m, ksub=ksub,
                             residual=True, seed=seed)
        cmat, books = q["cmat"], q["books"]
    else:
        cmat, books = constants
    # baseline = mean squared coarse-residual norm of the training
    # sample under these centroids (same sequential math as encode)
    dist, cell, _ = encode_vectors(X, cmat, residual=True)
    baseline = float(dist[np.arange(len(X)), cell].mean())
    enc = _encode(corpus, cmat, books, id_col, vec_col).drop("resid_sq")
    _swap(corpus.sparkSession, path, cmat, books, baseline, replace=enc)
    return {"baseline_resid_sq": baseline, "n_cells": int(cmat.shape[0])}


def append_ivfpq_index(batch: DataFrame, path: str, epoch: int,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> dict:
    """Assign-only append: encode ``batch`` against the STORED quantizer
    (no retrain, no re-encode of existing rows) as live epoch ``epoch``
    — a replay overwrites its own partitions (cell assignment is
    deterministic under the stored quantizer). Returns the drift
    self-report: {n_rows, batch_resid_sq, baseline_resid_sq,
    drift_ratio} — ratio >> 1 says the incoming distribution has left
    the trained centroids and a rebuild is warranted. An empty batch
    writes nothing and reports n_rows 0."""
    from etl_transparencia_sergipe_spark.caching import persist_scoped

    cmat, books, baseline = _load_quantizer(path)
    enc = _encode(batch, cmat, books, id_col, vec_col) \
        .transform(persist_scoped)
    try:
        # one job for the whole drift aggregate (count + mean fused);
        # the persisted encode then feeds the write
        stats = enc.agg(F.count("*").alias("n"),
                        F.avg("resid_sq").alias("r")).collect()[0]
        if stats["n"]:
            epoch_store.write(enc.drop("resid_sq"), path, epoch,
                              partition_by=["cell"])
    finally:
        enc.unpersist()
    batch_resid = float(stats["r"] or 0.0)
    return {
        "n_rows": int(stats["n"]),
        "batch_resid_sq": batch_resid,
        "baseline_resid_sq": baseline,
        "drift_ratio": batch_resid / baseline,
    }


def compact_ann_index(spark: SparkSession, path: str,
                      upto_epoch: int | None = None) -> dict:
    """Fold live epochs below ``upto_epoch`` (None: all) into the zone
    with ONE file per cell — the LSM compaction posture applied to the
    vector index. Streaming appends write <= n_cells small files per
    epoch; after many epochs the cell scan pays per-file open cost.
    Codes are immutable — this moves rows, it never re-encodes — so
    search results are bit-identical across folds. Pass the stream's
    last COMMITTED epoch so anything it can replay stays live (replay
    and crash contract: epoch_store).

    Returns {"n_rows", "n_files_before", "n_files_after"}."""
    import pathlib

    def _count_files():
        return sum(1 for p in pathlib.Path(path).rglob("part-*.parquet"))

    n_before = _count_files()
    cmat, books, baseline = _load_quantizer(path)
    _swap(spark, path, cmat, books, baseline, upto_epoch)
    return {"n_rows": int(epoch_store.read(spark, path).count()),
            "n_files_before": n_before, "n_files_after": _count_files()}


def maybe_rebuild_ann_index(spark: SparkSession, index_path: str,
                            drift_path: str, corpus: DataFrame,
                            threshold: float = 2.0, **rebuild_kw) -> dict:
    """The automated maintenance step the drift log feeds: read the
    LATEST drift self-report written by the streaming ingest sink
    (streaming/ann_stream.py) or batch appends, and rebuild the index
    iff ``drift_ratio > threshold``. Run it between stream runs (the
    rebuild concurrency contract). Returns
    {"rebuilt": bool, "drift_ratio": float, ...rebuild report}."""
    last = (spark.read.parquet(drift_path)
            .orderBy(F.desc("batch_id")).limit(1).collect())
    ratio = float(last[0]["drift_ratio"]) if last else 0.0
    if not last or ratio <= threshold:
        return {"rebuilt": False, "drift_ratio": ratio}
    report = build_ivfpq_index(corpus, index_path, **rebuild_kw)
    return {"rebuilt": True, "drift_ratio": ratio, **report}


def search_ivfpq_index(corpus: DataFrame, path: str, k: int = 5,
                       nprobe: int = 4, r: int = 100,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       query_pred: str = "vec_id < 8") -> DataFrame:
    """ADC search over the STORED codes + exact refine (the q103 shape,
    served from the index instead of re-encoding the corpus):

    1. broadcast per-(query, probed cell) residual LUTs;
    2. scan ONLY the probed cell partitions (hive pruning on ``cell``),
       score ADC from the stored codes, keep an r-deep shortlist;
    3. re-score the shortlist's raw vectors exactly (one semi-join into
       the corpus) and return exact-L2 top-k.

    Returns [query_id, neighbor_id, rank, l2sq].
    """
    cmat, books, _ = _load_quantizer(path)
    m = books.shape[0]
    qids, Q = _query_matrix(corpus, id_col, vec_col, query_pred)
    lut_rows = query_luts(qids, Q, cmat, books, nprobe, residual=True)
    luts = corpus.sparkSession.createDataFrame(
        lut_rows, "query_id bigint, cell bigint, l array<double>")
    probed = sorted({int(c) for _, c, _ in lut_rows})

    codes = (epoch_store.read(corpus.sparkSession, path)
             .filter(F.col("cell").isin(probed))
             .selectExpr("vec_id AS neighbor_id", "cell",
                         *[f"c{mm}" for mm in range(m)]))
    shortlist = _rank_topk(adc_scores(codes, luts, books), "adc", r)
    return (refine_l2(shortlist.select("query_id", "neighbor_id"), corpus,
                      k, id_col, vec_col, query_pred)
            .withColumnRenamed("l2", "l2sq"))
