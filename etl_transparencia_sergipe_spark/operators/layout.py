"""Write-path data layout: sort-clustered parquet for min/max skipping.

The read-path twin of corpus_pipeline.compact_parquet: at 100 TB, WHAT
order rows land in parquet decides whether a time/key-range predicate
reads one row group or the whole table. Parquet stores per-row-group
min/max statistics; a scan with a pushed predicate skips any group whose
[min, max] misses the predicate range — but only a clustered layout
makes those ranges narrow. This module writes the clustered layout and
measures (via footer statistics) the skip fraction a range predicate
gets, so the layout claim is a checked number, not an assertion.

``repartitionByRange + sortWithinPartitions`` is the Spark idiom: the
range exchange gives GLOBALLY disjoint per-file key ranges (each output
file covers one slice of the keyspace), the within-partition sort makes
every row group inside a file tight. A plain ``sort()`` would do both in
one shuffle but couples file count to shuffle parallelism; the explicit
pair keeps file sizing (scale posture: target bytes per file) separate
from sort order. For the single-range-key case (event time, ship date — the
dominant pruning predicates here) range-clustering is optimal;
``zorder_write`` adds the multi-column case: a codegen Morton
bit-interleave (no external curve library) that buys meaningful
min/max pruning on EVERY listed column where a linear sort prunes
only its key — measured in tests/test_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sorted_write(df: DataFrame, path: str, sort_cols: list[str],
                 n_files: int = 8,
                 rows_per_group: int | None = None,
                 options: dict | None = None,
                 partition_by: list[str] | None = None) -> None:
    """Write ``df`` range-clustered on ``sort_cols`` into ``n_files``
    parquet files with tight per-row-group min/max stats (hive
    partitioned by ``partition_by`` when given)."""
    w = (df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
         .sortWithinPartitions(*sort_cols)
         .write.mode("overwrite"))
    if rows_per_group:
        w = w.option("parquet.block.size",
                     str(max(64 * 1024, rows_per_group * 64)))
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def rowgroup_skip_fraction(path: str, col: str, lo, hi) -> dict:
    """Fraction of parquet row groups a [lo, hi] predicate can skip,
    from footer statistics alone (exactly what the reader's filter
    pushdown consults). Returns {n_groups, n_skippable, skip_fraction}.
    """
    import datetime
    import glob
    import os

    import pyarrow.parquet as pq

    def _naive(v):
        # TIMESTAMP_MICROS stats come back tz-aware (UTC); session values
        # are naive UTC — compare on one convention
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.replace(tzinfo=None)
        # date-typed bounds vs timestamp-typed stats (or vice versa):
        # promote date -> midnight datetime so mixed columns compare
        if type(v) is datetime.date:
            return datetime.datetime(v.year, v.month, v.day)
        return v

    lo, hi = _naive(lo), _naive(hi)
    n_groups = 0
    n_skip = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i
               for i in range(meta.schema.names.__len__())}
        ci = idx[col]
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(ci).statistics
            n_groups += 1
            if st is not None and st.has_min_max and (
                    _naive(st.max) < lo or _naive(st.min) > hi):
                n_skip += 1
    return {"n_groups": n_groups, "n_skippable": n_skip,
            "skip_fraction": (n_skip / n_groups) if n_groups else 0.0}


def inset_skip_fraction(path: str, col: str, keys) -> dict:
    """Fraction of parquet row groups an ``IN (keys)`` predicate can
    skip, from footer [min, max] statistics alone — the zone-map check
    the reader's pushed In filter performs per row group. A group is
    skippable iff NO key falls inside its [min, max]. Globs recursively
    (partitioned layouts like the signature store's ingest_batch=N
    children). Returns {n_groups, n_skippable, skip_fraction}."""
    import bisect
    import glob
    import os

    import pyarrow.parquet as pq

    ks = sorted(set(keys))
    n_groups = 0
    n_skip = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                       recursive=True):
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i
               for i in range(len(meta.schema.names))}
        ci = idx[col]
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(ci).statistics
            n_groups += 1
            if st is None or not st.has_min_max:
                continue
            i = bisect.bisect_left(ks, st.min)
            if i >= len(ks) or ks[i] > st.max:
                n_skip += 1
    return {"n_groups": n_groups, "n_skippable": n_skip,
            "skip_fraction": (n_skip / n_groups) if n_groups else 0.0}


def zvalue_expr(cols: list[str], bits: int = 16) -> str:
    """Codegen SQL expression interleaving ``bits`` bits of each
    pre-bucketed column (``_zb0``, ``_zb1``, ...) into one Z-value.

    Bit b of column c lands at position b * n_cols + c, so a sort by
    the Z-value alternates locality between the columns — the standard
    Morton curve. Pure integer shifts/masks: whole-stage codegen, no
    UDF."""
    n = len(cols)
    terms = []
    for c in range(n):
        for b in range(bits):
            terms.append(
                f"(shiftleft(shiftright(CAST(_zb{c} AS BIGINT), {b}) & 1,"
                f" {b * n + c}))")
    return "(" + " + ".join(terms) + ")"


def zorder_write(df: DataFrame, path: str, cols: list[str],
                 n_files: int = 8, bits: int = 16) -> None:
    """Write ``df`` Z-order-clustered on ``cols`` (multi-column layout).

    Range-clustering (sorted_write) is optimal for ONE pruning key but
    leaves every other column's per-group [min, max] spanning the whole
    domain — a predicate on the second column skips nothing. Z-order
    trades a little per-column tightness for locality in EVERY listed
    column: each is min-max bucketed to ``bits`` bits (one 1-row agg,
    broadcast), the buckets are bit-interleaved into a Morton value in
    pure codegen, and the write range-partitions + sorts on that value.
    tests/test_layout.py measures the outcome on real footer stats:
    both dimensions skip the large majority of row groups where the
    linear layout prunes only its sort key. At 100 TB this is the
    layout decision for fact tables with two live pruning predicates
    (user x time, key x date)."""
    mins = df.agg(*[F.min(c).alias(f"_mn{i}") for i, c in enumerate(cols)],
                  *[F.max(c).alias(f"_mx{i}") for i, c in enumerate(cols)])
    top = (1 << bits) - 1
    buck = df.crossJoin(F.broadcast(mins)).selectExpr(
        "*",
        *[f"CAST(((CAST({c} AS DOUBLE) - CAST(_mn{i} AS DOUBLE)) * {top})"
          f" / (CAST(_mx{i} AS DOUBLE) - CAST(_mn{i} AS DOUBLE) + 1e-9)"
          f" AS BIGINT) AS _zb{i}"
          for i, c in enumerate(cols)])
    z = buck.selectExpr("*", f"{zvalue_expr(cols, bits)} AS _zv")
    (z.repartitionByRange(n_files, F.col("_zv"))
     .sortWithinPartitions("_zv")
     .drop(*[f"_zb{i}" for i in range(len(cols))],
           *[f"_mn{i}" for i in range(len(cols))],
           *[f"_mx{i}" for i in range(len(cols))], "_zv")
     .write.mode("overwrite").parquet(path))
