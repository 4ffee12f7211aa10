"""Streaming ingestion dedup against the persisted signature store.

The batch story (operators/sigstore.py) is: signatures live in a parquet
store; a new batch is LSH-probed against the STORE, never against
historical text. This module is its Structured Streaming twin — the
continuous-ingestion posture a production corpus pipeline runs 24/7:

    documents file stream
        -> foreachBatch:
             1. probe the micro-batch against the signature store's
                epochs below this one (flags = suspected near-dups of
                ANYTHING ingested before)
             2. write the flagged pairs under batch_id=<epoch>
             3. write the micro-batch's own banded signatures as the
                store's epoch <epoch>

Replay, compaction cadence and crash repair follow the epoch store
contract (operators/epoch_store.py).

Scale shape at 100 TB: per micro-batch the plan scans the batch's text
ONCE for signatures; the store side is the banded layout probed through
a BROADCAST of the batch's bands — per-batch cost is O(batch) work +
O(matching row groups) I/O. Measured flat as the store grows: at sf1,
781 docs a batch over 64 epochs, the first 8 batches averaged 3.26 s
and the last 8 3.13 s (BASELINE.md, round 7). The probe's In pushdown
stays off for micro-batches: its keys-collect added a serial job of
about 1 s a batch at sf1. State between batches lives in parquet, not
in executor memory — the stream restarts from the checkpoint with zero
state rebuild, and the store doubles as the batch path's input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.dedup import (
    minhash_signatures,
)
from etl_transparencia_sergipe_spark.operators.sigstore import (
    append_banded_store,
    banded_signatures,
    compact_banded_store,
    probe_signature_store,
)
from etl_transparencia_sergipe_spark.streaming.pipeline import (
    ingest_files,
    overwrite_batch,
)


def sigstore_ingest_sink(store_path: str, flags_path: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = 16, bands: int = 4, n: int = 3,
                         min_agree: int = 8,
                         compact_every: int | None = 32):
    """foreachBatch sink: probe-then-append incremental dedup.

    Emits to ``flags_path`` rows [old_id, new_id, n_agree, batch_id] for
    every store x batch band collision with ``n_agree >= min_agree``
    (n_agree/k estimates Jaccard; 8/16 ~ the 0.5 near-dup bar), then
    writes the batch's signatures as the store's epoch. Every
    ``compact_every`` epochs (None disables) the committed epochs are
    folded into the store's band_hash-clustered zone first.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from etl_transparencia_sergipe_spark.caching import persist_scoped

        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if epoch_store.compaction_due(epoch, compact_every):
            compact_banded_store(spark, store_path, upto_epoch=epoch)
        # ONE text scan per epoch: the persisted signature frame feeds
        # both the probe (passed through new_sig) and the banded append
        sig = minhash_signatures(batch_df, id_col, text_col, k=k, n=n) \
            .transform(persist_scoped)
        # unpersist in finally (round-7 ADVICE): a thrown write followed
        # by an epoch replay must not leak the cached signature
        # partitions — state between batches lives in parquet only
        try:
            if epoch_store.ready(spark, store_path):
                # pushdown_max_keys=0 and broadcast_probe=True: an ingest
                # micro-batch is a BULK probe that always fits in a
                # broadcast (see the module docstring)
                flags = (
                    probe_signature_store(
                        spark, store_path, batch_df, id_col, text_col,
                        k=k, bands=bands, n=n, ingest_batch_lt=epoch,
                        pushdown_max_keys=0, new_sig=sig,
                        broadcast_probe=True)
                    .filter(F.col("n_agree") >= min_agree)
                )
                overwrite_batch(flags, flags_path, epoch)
            append_banded_store(banded_signatures(sig, k=k, bands=bands),
                                store_path, epoch)
        finally:
            sig.unpersist()

    return write_batch


def run_ingest_dedup(spark: SparkSession, docs_dir: str, store_path: str,
                     flags_path: str, checkpoint_dir: str,
                     max_files_per_trigger: int = 1,
                     min_agree: int = 8):
    """Drive the ingestion-dedup stream to completion (availableNow).

    Returns the finished query handle; the signature store and flags
    table are on disk afterwards — the store is directly probe-able by
    the batch path (operators/sigstore.probe_signature_store).
    """
    return ingest_files(spark, docs_dir,
                        sigstore_ingest_sink(store_path, flags_path,
                                             min_agree=min_agree),
                        checkpoint_dir, max_files_per_trigger)
