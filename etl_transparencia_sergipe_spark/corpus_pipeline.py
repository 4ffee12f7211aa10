"""End-to-end corpus curation pipeline + table-maintenance operators.

The per-operator pieces (LSH pair generation, connected components,
keep-canonical accounting) each have oracle-checked queries (q31, q38,
q39); this module composes them into the one-call production flow a
training-data pipeline actually runs, and adds the file-layout
maintenance that keeps a 100 TB parquet corpus scannable:

- :func:`dedup_corpus` — near-dup pairs -> clusters -> drop
  non-canonical members -> write the deduped corpus, returning an
  accounting report. The write is the point: downstream consumers read
  a materialized deduped table, they do not re-run the dedup plan.
- :func:`compact_parquet` — bin-pack a directory of small parquet files
  into ~target-sized files. Streaming sinks (foreachBatch appends, one
  file per micro-batch per partition) and fine-grained ingest leave
  thousands of small files; small files turn a columnar scan into a
  metadata storm (one task + one footer round-trip each). Compaction is
  the standing maintenance job every production lake runs.

Reference parity: the reference consolidates per-(cidade, ano, mes) CSV
fragments into one frame per run (``consolidate_data.py``) and
overwrites whole months idempotently (``file_utils.py:57``) — the same
fragment-then-consolidate lifecycle, at parquet/cluster scale.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators.components import (
    connected_components,
)
from etl_transparencia_sergipe_spark.operators.dedup import (
    minhash_lsh_pairs,
)


def dedup_corpus(docs: DataFrame, out_path: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 k: int = 16, bands: int = 4,
                 threshold: float = 0.4) -> dict:
    """MinHash-LSH dedup the corpus and WRITE the kept docs as parquet.

    Keeps each near-dup cluster's canonical member (min id — the q39
    exact-keep-first semantics); all singleton docs pass through. The
    kept frame is written before the report is computed, so the report
    reads the materialized output — what a scheduler would verify.

    Returns {"n_in", "n_dropped", "n_kept", "n_clusters"}.

    Scale shape: one corpus text scan (signatures), band self-join on
    hashes, O(log diameter) component rounds over the pair list
    (pairs only — never the corpus), one anti-join, one write. The
    report re-reads the OUTPUT (column-pruned count), not the input.
    """
    spark = docs.sparkSession
    pairs = minhash_lsh_pairs(docs, id_col, text_col,
                              k=k, bands=bands, threshold=threshold)
    cc = connected_components(pairs)
    drops = (cc.filter("node != component")
             .select(F.col("node").alias(id_col)))
    n_in = docs.count()
    n_clusters = cc.select("component").distinct().count()
    kept = docs.join(drops, id_col, "left_anti")
    kept.write.mode("overwrite").parquet(out_path)
    n_kept = spark.read.parquet(out_path).count()
    return {
        "n_in": n_in,
        "n_dropped": n_in - n_kept,
        "n_kept": n_kept,
        "n_clusters": n_clusters,
    }


def parquet_files(path: str) -> list[str]:
    """Data files of a (non-partitioned) parquet directory."""
    return [
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def compact_parquet(spark: SparkSession, path: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    sort_cols: list[str] | None = None,
                    zorder_cols: list[str] | None = None) -> dict:
    """Bin-pack a parquet directory into ~target_bytes files, in place.

    Sizes the output file count from the CURRENT on-disk bytes (the
    honest estimate — row counts mislead when compression ratios vary),
    rewrites via a temp dir, then atomically swaps directories. On a
    real lake this is the compaction transaction a table format (or a
    _SUCCESS-gated publish) provides; the local twin keeps the same
    write-then-swap ordering so readers never see a half-written mix.

    ``sort_cols`` range-clusters the rewrite (operators/layout.py
    sorted_write: globally disjoint per-file key ranges + tight
    per-row-group min/max) — compaction is THE moment layout is free,
    since the data is being rewritten anyway; a later range predicate
    on the sort key then skips row groups instead of scanning them
    (measured at sf1, BASELINE.md round-6 layout section: 86% of the
    orders row groups skipped for q94's date filter, 83% of lineitem's
    for a narrow ship-date range). ``zorder_cols`` instead interleaves
    multiple keys (operators/layout.py zorder_write) for pruning on
    every listed column. Mutually exclusive.

    Returns {"files_before", "files_after", "bytes", "rows"}.
    """
    if sort_cols and zorder_cols:
        raise ValueError("sort_cols and zorder_cols are mutually exclusive")
    files = parquet_files(path)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    rows = df.count()

    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    if sort_cols:
        from etl_transparencia_sergipe_spark.operators.layout import (
            sorted_write,
        )
        sorted_write(df, tmp, sort_cols, n_files=n_out)
    elif zorder_cols:
        from etl_transparencia_sergipe_spark.operators.layout import (
            zorder_write,
        )
        zorder_write(df, tmp, zorder_cols, n_files=n_out)
    else:
        # repartition (not coalesce): coalesce(n) glues existing
        # partitions without a shuffle, so one surviving task may
        # concatenate most of the input and skew the output file sizes;
        # the shuffle is the cost of even bin-packing and is
        # proportional to the data being rewritten anyway
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    old = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(parquet_files(path)),
        "bytes": total,
        "rows": rows,
    }
