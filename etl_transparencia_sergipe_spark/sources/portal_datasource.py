"""Custom Python Data Source for the paginated transparency portal
(SURVEY.md §4 'custom DSv2 paginated-http source with filter pushdown',
S1/S3/S4 as a first-class source) — the only portal ingest path.

``spark.read.format("transparencia_portal")`` exposes the portal as a
proper table over the (cidade, ano, mes) page grid. The grid is packed into
at most ``max_partitions`` contiguous runs of pages (one page a partition
without the option; :func:`load` passes the session's default parallelism)
— the reference's fixed worker pool over the task grid
(aracaju_barra_pirambu_scraper.py:328-344) becomes Spark's partition
planning, with no grid DataFrame or shuffle — and equality filters on the
partition dimensions are PUSHED INTO
PLANNING: ``WHERE ano = 2024 AND cidade = 'aracaju'`` prunes the task
grid before any fetch happens, the engine analog of the reference
composing year/month into the request URL (pacatuba_scraper.py:332-335).

Each partition calls the source's ``fetch_fn`` (tasks frame -> rows
frame, the seam ``synthetic_fetch``, ``html_fetch`` and a production
HTTP fetcher share) once per page, with bounded retry (D3, reference
:97-147); a page that still fails yields one row with ``fetch_error`` set
instead of failing the task, which feeds the two-pass retry (D4) in
``pipelines.run_with_retry``. Every page reaches Spark as one Arrow
record batch. :func:`load` binds any ``fetch_fn`` to a read.

Planning runs in Python workers of its own, which unpickle the data
source; importing this module stays free of pandas and pyarrow (63 MB a
process), which load only where pages are fetched.
"""

from __future__ import annotations

import itertools
import uuid
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

from etl_transparencia_sergipe_spark.sources.scraper_source import (
    DETAIL_COLUMNS,
    MASTER_COLUMNS,
    synthetic_fetch,
)

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa

_TEXT_COLS = MASTER_COLUMNS + DETAIL_COLUMNS + ["fetch_error"]
PORTAL_SCHEMA = "cidade string, ano int, mes int, " + ", ".join(
    f"{c} string" for c in _TEXT_COLS)

# fetch attempts per page before it becomes a fetch_error row; no sleep
# between them: Spark reschedules, backoff is for live HTTP
FETCH_ATTEMPTS = 3

FetchFn = Callable[["pd.DataFrame"], "pd.DataFrame"]


def fetch_page(fetch_fn: FetchFn, cidade: str, ano: int, mes: int,
               max_rows: int | None = None) -> pa.RecordBatch:
    """One (cidade, ano, mes) page as an Arrow batch: ``fetch_fn`` with
    bounded retry; the last failure becomes a ``fetch_error`` row."""
    import pandas as pd
    import pyarrow as pa

    schema = pa.schema(
        [("cidade", pa.string()), ("ano", pa.int32()), ("mes", pa.int32())]
        + [(c, pa.string()) for c in _TEXT_COLS])
    task = pd.DataFrame({"cidade": [cidade], "ano": [ano], "mes": [mes]})
    for attempt in range(1, FETCH_ATTEMPTS + 1):
        try:
            rows = fetch_fn(task)
            break
        except Exception as exc:  # noqa: BLE001 — source-level retry
            if attempt == FETCH_ATTEMPTS:
                rows = task.assign(fetch_error=f"{type(exc).__name__}: {exc}")
    if max_rows is not None:
        # a real fetcher would stop paginating here instead of slicing
        rows = rows.head(max_rows)
    return pa.RecordBatch.from_pandas(
        rows.reindex(columns=schema.names), schema=schema,
        preserve_index=False)


class _Fetcher:
    """A read's page fetcher, carried as cloudpickled bytes or as the
    ``html_base`` of :func:`html_fetch`, and loaded on its first page —
    not in the planning workers."""

    def __init__(self, blob: bytes, html_base: str | None):
        self.blob, self.html_base, self.fn = blob, html_base, None

    def __call__(self, tasks: pd.DataFrame) -> pd.DataFrame:
        if self.fn is None:
            if self.html_base:
                from etl_transparencia_sergipe_spark.sources.html_scraper \
                    import html_fetch
                self.fn = html_fetch(self.html_base)
            else:
                self.fn = cloudpickle.loads(self.blob)
        return self.fn(tasks)


def _grid_options(options: dict) -> tuple[list[str], list[int], list[int]]:
    meses = options.get("meses")
    return (options.get("cidades", "aracaju").split(","),
            [int(a) for a in options.get("anos", "2024").split(",")],
            [int(m) for m in meses.split(",")] if meses
            else list(range(1, 13)))


class TaskPartition(InputPartition):
    """A contiguous run of (cidade, ano, mes) pages of the grid."""

    def __init__(self, pages: list[tuple[str, int, int]]):
        self.pages = pages


class PortalReader(DataSourceReader):
    def __init__(self, options: dict, fetch_fn: FetchFn):
        self.cidades, self.anos, self.meses = _grid_options(options)
        self.fetch_fn = fetch_fn
        # LIMIT cannot be pushed through the Python DSv2 API (see
        # pushFilters docstring), so expose the per-partition bound a
        # pushed limit would buy as an explicit reader option: a paginated
        # fetcher stops requesting pages once max_rows rows were yielded.
        self.max_rows = int(options["max_rows"]) if "max_rows" in options \
            else None
        # a Python stage still costs more than a JVM-only one (4 tasks of
        # range -> noop on a 4-vCPU VM: 0.10 s through mapInPandas, 0.05 s
        # without), so a read packs its pages into one task per core
        # rather than one per page
        self.max_partitions = int(options["max_partitions"]) \
            if "max_partitions" in options else None

    def pushFilters(self, filters):
        """Equality, ``In``, and range filters on (cidade, ano, mes) prune
        the task grid at planning time — the reference's multi-month config
        lists (config.json:21-40) arrive as ``mes IN (...)`` and now prune
        instead of falling back to post-scan evaluation. Pruning is EXACT
        for these columns (every row in a partition shares its dimension
        values), so handled filters are consumed, not re-evaluated.
        Everything else is returned for Spark to apply post-scan.

        Limit pushdown is not expressible in the Python DSv2 API (the
        reader surface is partitions/pushFilters/read only); Spark's own
        LocalLimit stops consuming the iterator early, which for a
        paginated HTTP fetcher bounds work per partition, not partitions.
        """
        for f in filters:
            if len(getattr(f, "attribute", ())) == 1:
                col = f.attribute[0]
                if col in ("cidade", "ano", "mes") and self._narrow(col, f):
                    continue  # fully applied at planning time
            yield f  # not handled here -> Spark evaluates it post-scan

    def _narrow(self, col: str, f) -> bool:
        """Narrow the candidate list for ``col`` by filter ``f``; returns
        False when the filter shape is not handled for this column."""
        cast = str if col == "cidade" else int
        if isinstance(f, EqualTo):
            pred = lambda x, v=cast(f.value): x == v  # noqa: E731
        elif isinstance(f, In):
            vals = {cast(v) for v in f.value}
            pred = lambda x, vs=vals: x in vs  # noqa: E731
        elif col != "cidade" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual,
                    LessThan, LessThanOrEqual)):
            v = cast(f.value)
            ops = {GreaterThan: lambda x: x > v,
                   GreaterThanOrEqual: lambda x: x >= v,
                   LessThan: lambda x: x < v,
                   LessThanOrEqual: lambda x: x <= v}
            pred = ops[type(f)]
        else:
            return False
        attr = {"cidade": "cidades", "ano": "anos", "mes": "meses"}[col]
        setattr(self, attr, [x for x in getattr(self, attr) if pred(x)])
        return True

    def partitions(self):
        """The pruned grid, in grid order, as at most ``max_partitions``
        contiguous runs whose sizes differ by at most one page."""
        grid = [(c, a, m)
                for c in self.cidades for a in self.anos for m in self.meses]
        n = min(len(grid), self.max_partitions or len(grid))
        return [TaskPartition(grid[i * len(grid) // n:
                                   (i + 1) * len(grid) // n])
                for i in range(n)]

    def read(self, partition: TaskPartition) -> Iterator[pa.RecordBatch]:
        for cidade, ano, mes in partition.pages:
            yield fetch_page(self.fetch_fn, cidade, ano, mes, self.max_rows)


class PortalStreamReader(SimpleDataSourceStreamReader):
    """Streaming portal source: ONE (ano, mes) per micro-batch, in month
    order — the reference's incremental month-at-a-time acquisition
    (aracaju_barra_pirambu_scraper.py:317-351) as a true streaming source.
    The offset is the month cursor, so restarts resume exactly where the
    checkpoint left off (the 'already-scraped month' skip, D4/J4)."""

    def __init__(self, options: dict, fetch_fn: FetchFn):
        self.cidades, anos, meses = _grid_options(options)
        self.fetch_fn = fetch_fn
        self.months = [(a, m) for a in sorted(anos) for m in sorted(meses)]

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        idx = start["idx"]
        if idx >= len(self.months):
            return iter([]), start
        return iter(self._pages(idx)), {"idx": idx + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return itertools.chain.from_iterable(
            self._pages(idx) for idx in range(start["idx"], end["idx"]))

    def _pages(self, idx: int) -> list[pa.RecordBatch]:
        ano, mes = self.months[idx]
        return [fetch_page(self.fetch_fn, c, ano, mes) for c in self.cidades]


class PortalDataSource(DataSource):
    """``fetch_blob`` is the cloudpickled page fetcher; the ``html_base``
    option swaps in :func:`html_fetch` over that base URL (file://
    fixtures or a live portal mirror) — same row schema, same partition
    planning."""

    fetch_blob = cloudpickle.dumps(synthetic_fetch)

    @classmethod
    def name(cls) -> str:
        return "transparencia_portal"

    def schema(self) -> str:
        return PORTAL_SCHEMA

    def _fetch(self) -> FetchFn:
        return _Fetcher(self.fetch_blob, self.options.get("html_base"))

    def reader(self, schema) -> PortalReader:
        return PortalReader(self.options, self._fetch())

    def simpleStreamReader(self, schema) -> PortalStreamReader:
        return PortalStreamReader(self.options, self._fetch())


def register(spark) -> None:
    spark.dataSource.register(PortalDataSource)


def load(spark, cidades: list[str], anos: list[int],
         meses: list[int] | None, fetch_fn: FetchFn) -> DataFrame:
    """Read the (cidade, ano, mes) grid through the portal source with
    ``fetch_fn`` as its page fetcher (all twelve months when ``meses`` is
    None), in at most ``defaultParallelism`` partitions.

    The fetcher rides on a subclass registered under a name of its own,
    so concurrent reads with different fetchers never see each other's;
    cloudpickle ships it, with its closure and any accumulators in it, to
    the read tasks."""
    if not cidades or not anos or meses == []:
        raise ValueError(
            f"empty task grid: cidades={cidades} anos={anos} meses={meses}")
    name = f"{PortalDataSource.name()}_{uuid.uuid4().hex}"

    class BoundPortalDataSource(PortalDataSource):
        @classmethod
        def name(cls) -> str:
            return name

    BoundPortalDataSource.fetch_blob = cloudpickle.dumps(fetch_fn)
    spark.dataSource.register(BoundPortalDataSource)
    reader = (spark.read.format(name)
              .option("max_partitions", spark.sparkContext.defaultParallelism)
              .option("cidades", ",".join(cidades))
              .option("anos", ",".join(map(str, anos))))
    if meses:
        reader = reader.option("meses", ",".join(map(str, meses)))
    return reader.load()
