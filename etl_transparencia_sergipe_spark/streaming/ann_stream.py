"""Streaming vector ingestion into the incremental IVFADC index.

operators/ann_index.py made the trained-ANN tier append-able: a base
index is trained once, new batches are ASSIGN-ONLY encoded against the
stored quantizer. This module is its Structured Streaming twin — the
continuous-ingestion posture of a production embedding pipeline, built
the same way streaming/sigstore_stream.py wraps operators/sigstore.py:

    embeddings file stream
        -> foreachBatch:
             1. assign-only encode the micro-batch against the stored
                quantizer (the exact q102 encode math, zero training; a
                missing quantizer fails loudly instead of training a
                divergent one mid-stream) and write the codes as the
                index's epoch <epoch> (append_ivfpq_index)
             2. write the drift self-report [n_rows, batch_resid_sq,
                baseline_resid_sq, drift_ratio] under batch_id=<epoch>
                — the retrain signal is monitored continuously, not
                polled

Replay, compaction cadence and crash repair follow the epoch store
contract (operators/epoch_store.py); cell assignment is deterministic
under the stored quantizer, so a replayed epoch converges
bit-identically.

Reference parity: the reference's incremental month-skip ("already
scraped?" check against what exists on disk —
``src/utils/file_utils.py:57``) is persisted-state-driven incremental
ingestion; this applies that posture to a vector index, with the
quantizer artifact as the immutable trained state.

Scale shape at 100 TB: per micro-batch the cost is O(batch) — one
mapInPandas encode pass over the batch's vectors plus a 1-row drift
aggregate; nothing rescans the existing index. The search path
(ann_index.search_ivfpq_index) reads it with cell-partition pruning
regardless of how many epochs the store holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.ann_index import (
    append_ivfpq_index,
    compact_ann_index,
)
from etl_transparencia_sergipe_spark.streaming.pipeline import (
    overwrite_batch,
)


def ann_ingest_sink(index_path: str, drift_path: str,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    compact_every: int | None = 32):
    """foreachBatch sink: assign-only encode + epoch write + drift log.

    Requires an index built with ``build_ivfpq_index`` at
    ``index_path``; its stored quantizer is the immutable trained state
    every epoch encodes against. Every ``compact_every`` epochs (None
    disables) the committed epochs are folded into the index's zone
    first (compact_ann_index: codes move, never re-encode, so search
    results are bit-identical across folds)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if epoch_store.compaction_due(epoch, compact_every):
            compact_ann_index(spark, index_path, upto_epoch=epoch)
        report = append_ivfpq_index(batch_df, index_path, epoch,
                                    id_col=id_col, vec_col=vec_col)
        if report["n_rows"] == 0:
            return
        drift = spark.createDataFrame(
            [(report["n_rows"], report["batch_resid_sq"],
              report["baseline_resid_sq"], report["drift_ratio"])],
            "n_rows bigint, batch_resid_sq double, "
            "baseline_resid_sq double, drift_ratio double")
        overwrite_batch(drift, drift_path, epoch)

    return write_batch
