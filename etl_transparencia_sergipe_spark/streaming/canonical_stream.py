"""Streaming canonical-contraction dedup — the round-8 contraction
state (operators/canonical.py) maintained by a Structured Streaming
ingest loop.

streaming/sigstore_stream.py probes arriving batches against the
ALL-MEMBERS signature store: per-batch cost is O(batch) work but the
flagged-pair stream (and any exact verify built on it) tracks cluster
MEMBERSHIP — on duplicate-dense corpora that is the quadratic the
canonical contraction deletes. This sink runs the contracted loop
24/7:

    documents file stream
        -> foreachBatch:
             1. probe the micro-batch against CANONICAL signatures from
                state epochs strictly below this one (one
                candidate per (new doc, colliding cluster) — never per
                member); exact-Jaccard verify reads candidate
                canonicals' text from the state's own texts table, so
                the historical corpus is NEVER rescanned;
             2. write the verified matches under batch_id=<epoch>;
             3. absorb: matched docs adopt their best cluster's label,
                unmatched docs become new canonicals — labels,
                signatures and text land in epoch <epoch> of the
                state's three stores.

Replay, compaction cadence and crash repair follow the epoch store
contract (operators/epoch_store.py); tests/test_canonical_stream.py
pins that a replayed epoch converges bit-identically.

Cross-batch-only contract (shared with sigstore_stream): duplicates
WITHIN one micro-batch each become canonicals — intra-batch dedup is
the batch operator's job (q31/q38) or a smaller trigger's. At 100 TB
per-batch cost is O(batch) signatures + O(batch true cluster matches)
verify; state grows only by NEW-content canonicals, so the probe
surface tracks content diversity, not corpus size — strictly smaller
than the all-members store, and the gap widens exactly where dedup
matters (duplicate-heavy streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators import epoch_store
from etl_transparencia_sergipe_spark.operators.canonical import (
    _sigs_path,
    _texts_path,
    absorb_batch,
    compact_canonical_state,
)
from etl_transparencia_sergipe_spark.operators.dedup import (
    jaccard_verify_pairs,
)
from etl_transparencia_sergipe_spark.operators.sigstore import (
    probe_signature_store,
)
from etl_transparencia_sergipe_spark.streaming.pipeline import (
    overwrite_batch,
)


def canonical_ingest_sink(state_path: str, matches_path: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          k: int = 16, bands: int = 4, n: int = 3,
                          threshold: float = 0.4,
                          pushdown_max_keys: int = 1024,
                          compact_every: int | None = 32):
    """foreachBatch sink: probe-verify-absorb against the canonical
    state. Requires a state built with ``build_canonical_state`` — a
    missing or half-built state fails loudly instead of silently
    minting every arriving doc as a new canonical. Every
    ``compact_every`` epochs (None disables) the committed epochs of the
    three state tables are folded into their zones first.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from etl_transparencia_sergipe_spark.caching import persist_scoped

        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if not epoch_store.ready(spark, _texts_path(state_path)):
            raise RuntimeError(
                f"canonical state at {state_path} is missing its texts "
                "table — build it with build_canonical_state before "
                "starting the stream")
        if epoch_store.compaction_due(epoch, compact_every):
            compact_canonical_state(spark, state_path, upto_epoch=epoch)
        batch = batch_df.select(
            F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
        # 1. band-join candidates against canonical signatures < epoch
        #    (broadcast probe: a micro-batch always fits)
        cand = (probe_signature_store(
            spark, _sigs_path(state_path), batch, id_col, text_col,
            k=k, bands=bands, n=n, ingest_batch_lt=epoch,
            pushdown_max_keys=0, broadcast_probe=True)
            .selectExpr("old_id AS id_a", "new_id AS id_b")
            .transform(persist_scoped))
        try:
            # 2. candidate canonical ids are BATCH-BOUNDED (<= one per
            #    (new doc, colliding cluster)) — collect them and push
            #    the In filter into the texts scan, so per-epoch text
            #    I/O is O(candidates), never O(all canonicals). The
            #    collected list is BUDGETED like probe_signature_store's
            #    pushdown_max_keys (round-8 ADVICE): a duplicate-heavy
            #    mega-batch could otherwise build an In expression large
            #    enough to hurt driver memory and plan/codegen size, so
            #    past the budget the texts scan degrades to a semi-join
            #    against the (persisted) candidate frame instead.
            cand_ids_df = cand.select("id_a").distinct()
            n_cand = cand_ids_df.limit(pushdown_max_keys + 1).count()
            texts = (epoch_store.read(spark, _texts_path(state_path))
                     .filter(F.col("ingest_batch") < epoch))
            if n_cand <= pushdown_max_keys:
                cand_ids = sorted(r[0] for r in cand_ids_df.collect())
                texts = texts.filter(F.col("doc_id").isin(cand_ids))
            else:
                texts = texts.join(
                    cand_ids_df.withColumnRenamed("id_a", "doc_id"),
                    "doc_id", "left_semi")
            texts = texts.selectExpr(f"doc_id AS {id_col}",
                                     f"text AS {text_col}")
            docs_all = texts.unionByName(batch)
            # 3. exact verify: one pair per (new doc, matched cluster);
            #    broadcast joins — everything here is batch-bounded.
            #    Persisted: shared by the matches write and the absorb.
            matches = (jaccard_verify_pairs(docs_all, cand, id_col,
                                            text_col, n,
                                            broadcast_side=True)
                       .filter(F.col("jaccard") >= threshold)
                       .selectExpr("id_b AS new_id",
                                   "id_a AS canonical_id", "jaccard")
                       .transform(persist_scoped))
            try:
                overwrite_batch(matches, matches_path, epoch)
                absorb_batch(spark, state_path, docs_all, batch, id_col,
                             text_col, epoch, k=k, bands=bands, n=n,
                             threshold=threshold, matches=matches)
            finally:
                matches.unpersist()
        finally:
            cand.unpersist()

    return write_batch
