"""Epoch store — the one layout, replay and compaction protocol behind
every incremental table: the MinHash signature store
(operators/sigstore.py), the canonical-contraction state
(operators/canonical.py) and the IVFADC index (operators/ann_index.py).

The reference keeps its output as per-month partitions: a rerun
overwrites its own month, and a month already on disk is skipped
(``src/utils/file_utils.py:22-57``). An epoch store applies that to
micro-batches.

Layout (plain parquet + Hadoop FileSystem renames, so HDFS/S3/local
alike and no table-format dependency)::

    <path>/ingest_batch=<e>/[<inner>=<v>/]part-*.parquet   live epochs
    <path>/_compacted/[<inner>=<v>/]part-*.parquet         the zone
    <path>/_compacted/_folded_below_<m>                    its fold mark

Live epochs are hive partitions, with optional inner partition columns
(the ANN index's ``cell``). The zone holds every row of every epoch
below its fold mark ``m``, clustered for the store's probe (sorted on
the store's key, optional bloom filters); ``ingest_batch`` survives in
it as a regular column, so an ``ingest_batch < epoch`` filter applies
row-level there and prunes directories on the live side. The
underscore prefix hides the zone (and any sidecar, such as the ANN
quantizer, which travels inside the zone it encodes) from a plain
``spark.read.parquet(path)``.

- :func:`write` overwrites only its epoch's own partition (dynamic
  partition overwrite), so a replayed epoch converges to the same
  content instead of appending duplicates.
- :func:`read` returns the zone plus the live epochs at or above the
  fold mark. Filters push into both scans.
- :func:`ready` says whether the store holds any committed data; a
  directory holding only the ``_temporary`` of a write that died before
  its commit is not ready.
- :func:`compact` folds live epochs below ``upto_epoch`` into a new
  zone: write it under ``_compact_tmp``, rename the old zone to
  ``_compact_old``, rename the new one to ``_compacted``, delete the
  old zone, then the folded live epochs. A full replacement (a batch
  build, an ANN rebuild) is the same swap with every live epoch folded
  and the replacement rows as the zone.

Crash safety. At any instant of a compaction — or of a crash inside
one — a reader sees every committed row exactly once. While the new
zone is being written the old one is untouched. Between the two
renames the old zone sits at ``_compact_old`` and the reader takes it
from there. After the swap the new fold mark hides the folded live
epochs until they are deleted. The first step of every compaction
repairs whatever an interrupted one left: it renames ``_compact_old``
back (or deletes it once the swap finished), drops ``_compact_tmp``,
and deletes live epochs below the mark.

Replay contract for a streaming sink. At the START of epoch ``e``
every epoch below ``e`` is checkpoint-committed and can never replay,
so a sink may fold them (``compact(..., upto_epoch=e)``) and must read
only ``ingest_batch < e``: a replayed epoch then never sees its own,
possibly already written, rows, and its write overwrites them. The
cadence is :func:`compaction_due`, a pure function of the epoch id, so
a replay after a crash mid-compaction re-enters the same compaction,
whose repair step finishes the swap. Compact only between or at the
start of epochs, never concurrently with a writer.

Rows of a full replacement carry ``ingest_batch = mark - 1``: a fresh
build gets mark 0, so a stream's epoch 0 probes it and writes beside it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH = "ingest_batch"
_ZONE = "_compacted"
_OLD = "_compact_old"
_TMP = "_compact_tmp"
# no "=" in the name: Spark lists "_"-prefixed names containing "=" as
# data (a hidden partition column), anything else "_"-prefixed it skips
_MARK = "_folded_below_"


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path class, root string) for a store path."""
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    root = path.rstrip("/")
    fs = HPath(root).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, HPath, root


def _names(fs, HPath, path: str) -> list[str]:
    p = HPath(path)
    if not fs.exists(p):
        return []
    return [s.getPath().getName() for s in fs.listStatus(p)]


def _has_data(fs, HPath, path: str) -> bool:
    return any(not n.startswith(("_", ".")) for n in _names(fs, HPath, path))


def _zone(fs, HPath, root: str):
    """(committed zone dir, its fold mark) or (None, None). Between the
    two renames of a swap the committed zone is ``_compact_old``."""
    for name in (_ZONE, _OLD):
        marks = [int(n[len(_MARK):]) for n in _names(fs, HPath,
                                                     f"{root}/{name}")
                 if n.startswith(_MARK)]
        if marks:
            return f"{root}/{name}", marks[0]
    return None, None


def _live_epochs(fs, HPath, root: str, mark: int | None = None) -> list[int]:
    """Live epochs on disk, only those at or above ``mark`` if given."""
    prefix = EPOCH + "="
    return sorted(e for e in (int(n[len(prefix):])
                              for n in _names(fs, HPath, root)
                              if n.startswith(prefix))
                  if mark is None or e >= mark)


def _drop_folded(fs, HPath, root: str, mark: int) -> None:
    for e in _live_epochs(fs, HPath, root):
        if e < mark:
            fs.delete(HPath(f"{root}/{EPOCH}={e}"), True)


def _repair(fs, HPath, root: str) -> None:
    """Finish or roll back an interrupted swap (see module docstring)."""
    zone, old = HPath(f"{root}/{_ZONE}"), HPath(f"{root}/{_OLD}")
    if fs.exists(old):
        if fs.exists(zone):
            fs.delete(old, True)
        else:
            fs.rename(old, zone)
    fs.delete(HPath(f"{root}/{_TMP}"), True)
    _, mark = _zone(fs, HPath, root)
    if mark is not None:
        _drop_folded(fs, HPath, root, mark)


def compaction_due(epoch: int, every: int | None) -> bool:
    """The sinks' cadence: fold committed epochs at the start of every
    ``every``-th epoch (never at epoch 0; None disables)."""
    return bool(every) and epoch > 0 and epoch % every == 0


def zone_path(spark: SparkSession, path: str) -> str | None:
    """The committed zone directory (where sidecars live), or None."""
    fs, HPath, root = _fs(spark, path)
    return _zone(fs, HPath, root)[0]


def live_epochs(spark: SparkSession, path: str) -> list[int]:
    """Live epochs the reader serves (those at or above the fold mark)."""
    fs, HPath, root = _fs(spark, path)
    return _live_epochs(fs, HPath, root, _zone(fs, HPath, root)[1])


def write(df: DataFrame, path: str, epoch: int,
          partition_by: list[str] | tuple = (),
          sort_by: list[str] | tuple = (),
          n_files: int | None = None,
          options: dict | None = None) -> None:
    """Write ``df`` as live epoch ``epoch``, replacing only that epoch's
    partitions. ``n_files`` coalesces first (a micro-batch should land
    as few files), ``sort_by`` sorts within each file."""
    df = df.withColumn(EPOCH, F.lit(int(epoch)))
    if n_files:
        df = df.coalesce(n_files)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    w = (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic"))
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.partitionBy(EPOCH, *partition_by).parquet(path)


def ready(spark: SparkSession, path: str) -> bool:
    """True iff the store holds committed data (zone or a live epoch)."""
    fs, HPath, root = _fs(spark, path)
    zone, mark = _zone(fs, HPath, root)
    return ((zone is not None and _has_data(fs, HPath, zone))
            or bool(_live_epochs(fs, HPath, root, mark)))


def read(spark: SparkSession, path: str) -> DataFrame:
    """Every committed row exactly once: the zone plus the live epochs
    at or above its fold mark, ``ingest_batch`` an int column of both."""
    fs, HPath, root = _fs(spark, path)
    zone, mark = _zone(fs, HPath, root)
    parts = []
    if zone is not None and _has_data(fs, HPath, zone):
        parts.append(spark.read.parquet(zone))
    if _live_epochs(fs, HPath, root, mark):
        live = spark.read.parquet(root)
        parts.append(live if mark is None
                     else live.filter(F.col(EPOCH) >= mark))
    if not parts:
        raise FileNotFoundError(f"no committed epoch store at {path}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact(spark: SparkSession, path: str, upto_epoch: int | None = None,
            *, sort_by: list[str], partition_by: list[str] | tuple = (),
            n_files: int = 8, rows_per_group: int | None = None,
            options: dict | None = None, replace: DataFrame | None = None,
            before_swap: Callable[[str], None] | None = None) -> None:
    """Fold every live epoch below ``upto_epoch`` (None: all of them)
    into a new zone clustered on ``sort_by``, and swap it in. With
    ``replace`` the new zone holds exactly those rows instead and every
    live epoch is folded away. ``before_swap(zone_dir)`` writes
    sidecars into the new zone before it becomes visible. With nothing
    to fold it only repairs."""
    from etl_transparencia_sergipe_spark.operators.layout import (
        sorted_write,
    )

    fs, HPath, root = _fs(spark, path)
    _repair(fs, HPath, root)
    mark = _zone(fs, HPath, root)[1] or 0
    live = _live_epochs(fs, HPath, root)
    if replace is not None or upto_epoch is None:
        upto_epoch = max([mark] + [e + 1 for e in live])
    new_mark = max(upto_epoch, mark)
    if replace is not None:
        rows = replace.withColumn(EPOCH, F.lit(new_mark - 1))
    elif any(e < upto_epoch for e in live):
        rows = read(spark, root).filter(F.col(EPOCH) < upto_epoch)
    else:
        return

    tmp = f"{root}/{_TMP}"
    sorted_write(rows, tmp, sort_by, n_files=n_files,
                 rows_per_group=rows_per_group, options=options,
                 partition_by=list(partition_by))
    if before_swap is not None:
        before_swap(tmp)
    fs.create(HPath(f"{tmp}/{_MARK}{new_mark}")).close()
    zone, old = HPath(f"{root}/{_ZONE}"), HPath(f"{root}/{_OLD}")
    if fs.exists(zone):
        fs.rename(zone, old)
    fs.rename(HPath(tmp), zone)
    fs.delete(old, True)
    _drop_folded(fs, HPath, root, new_mark)
