"""The benchmark's workloads. Each one is a closed loop with one client:
the next operation starts when the previous one has returned.

A workload has five steps, driven by ``run.py``:

- ``generate(dir, rng)``: seeded inputs (counted in setup_s);
- ``reference()``: expected outputs computed once (setup_s); runs on a
  side thread while the SparkSession starts, so it must not use Spark;
- ``warm(spark)``: untimed work that pays JIT, code generation and
  Python worker start (setup_s);
- ``run_pass(spark, tracer)``: one pass over the workload's fixed unit
  of work, returning one :class:`Op` per operation;
- ``probe(spark, tracer)``: traced runs only, layer probes that drive a
  layer on its own (kept out of the pass wall); returns the operations
  whose outputs it checked.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark import pipelines
from etl_transparencia_sergipe_spark.caching import (
    persistent_rdd_ids,
    release_all,
)
from etl_transparencia_sergipe_spark.sources.html_scraper import html_fetch

import inputs
from probes import Tracer, job_counts


@dataclass
class Op:
    latency_s: float
    ok: bool
    items: int
    name: str


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


class _Workload:
    item: str  # what throughput_per_s counts

    def __init__(self, smoke: bool):
        self.smoke = smoke

    def _op(self, spark, tracer, name: str, fn):
        """Run ``fn`` as one operation under its own job group and count
        its Spark jobs and tasks into the tracer."""
        sc = spark.sparkContext
        if tracer.enabled:
            # spans of one operation share this id; it is also the job
            # group, unique per operation, so the status tracker's jobs of
            # the group are this operation's alone
            tracer.op = f"{name}#{int(tracer.counts['spark.ops'])}"
            sc.setJobGroup(tracer.op, name)
        try:
            return fn()
        finally:
            if tracer.enabled:
                jobs, tasks, failed = job_counts(sc, tracer.op)
                tracer.add("spark.jobs", jobs)
                tracer.add("spark.tasks", tasks)
                tracer.add("spark.failed_tasks", failed)
                tracer.add("spark.ops", 1)
                sc.setLocalProperty("spark.jobGroup.id", None)

    def warm(self, spark) -> None:
        self.run_pass(spark, Tracer(False))

    def probe(self, spark, tracer) -> list[Op]:
        return []


# --------------------------------------------------------------------------
# royalty_backfill
# --------------------------------------------------------------------------

MESES = list(range(1, 13))


class RoyaltyBackfill(_Workload):
    """The paper's job per (cidade, ano): fetch the twelve portal month
    pages, keep royalty payments, write (cidade, ano, mes) partitions,
    read the yearly consolidated view back and aggregate the city's
    year."""

    item = "payment records"

    # Payments per month page, fixed (seeded sizes would move the
    # records-per-second figure with the seed). Sized from two
    # measurements on a 4-vCPU VM: a year job costs about 4.5 s whatever
    # its size (task grid, scheduling, commit; 200 rows a page ran in
    # 4.7-5.3 s), and each payment adds about 0.12 ms of wall (fetch,
    # HTML parse, filter, write: 2000 and 8000 rows a page ran in 7.4 s
    # and 16 s). At 3000 rows a page, 36k payments a job, a job takes
    # about 10.5 s, more than half of it per-payment work, and the 15 s
    # window holds two jobs.
    ROWS_PER_PAGE = 3000

    def generate(self, root: str, rng: np.random.Generator) -> dict:
        self.root = root
        n_cid, anos, rows = (2, [2023], 30 if self.smoke
                             else self.ROWS_PER_PAGE)
        self.inp = inputs.portal_pages(os.path.join(root, "pages"), rng,
                                       n_cid, anos, rows)
        self.table = os.path.join(root, "royalties")
        self.passes = 0
        return self.inp["size"]

    def reference(self) -> None:
        pass  # the generator's ground truth is the reference

    def warm(self, spark) -> None:
        # every job of the grid once: after a single warm job, the first
        # timed job still ran 10-25% slower than the second
        for _ in self.inp["jobs"]:
            self.run_pass(spark, Tracer(False))

    def _fetch_fn(self, spark, tracer):
        base = self.inp["base_url"]
        if not tracer.enabled:
            return html_fetch(base)
        sc = spark.sparkContext
        acc = {k: sc.accumulator(0.0) for k in
               ("pages", "rows_parsed", "fetch_busy_s", "fetch_errors")}
        inner = html_fetch(base)

        def counted(tasks: pd.DataFrame) -> pd.DataFrame:
            t0 = time.perf_counter()
            try:
                out = inner(tasks)
            except Exception:
                acc["fetch_errors"].add(1)
                raise
            finally:
                acc["fetch_busy_s"].add(time.perf_counter() - t0)
            acc["pages"].add(len(tasks))
            acc["rows_parsed"].add(len(out))
            return out

        self._acc = acc
        return counted

    def _job(self, spark, tracer, fetch, job: tuple) -> Op:
        c, a = job
        t0 = time.perf_counter()
        before = ({k: v.value for k, v in self._acc.items()}
                  if tracer.enabled else {})
        with tracer.span("pipelines.royalties_pipeline"):
            df = pipelines.royalties_pipeline(spark, [c], [a], MESES,
                                              fetch_fn=fetch)
        with tracer.span("pipelines.write"):
            pipelines.write_partitioned(df, self.table)
        with tracer.span("pipelines.consolidate"):
            got = (pipelines.consolidated_view(spark, self.table, a)
                   .filter(F.col("cidade") == c)
                   .agg(F.count("*").alias("n"),
                        F.sum("pago_dec").alias("pago"))
                   .collect()[0])
        lat = time.perf_counter() - t0
        n_roy, pago = self.inp["truth"][job]
        ok = got["n"] == n_roy and Decimal(got["pago"] or 0) == pago
        if tracer.enabled:
            for k, v in self._acc.items():
                tracer.add(f"sources.{k}", v.value - before[k])
            tracer.add("functions.royalty_rows", got["n"])
            for m in MESES:
                files, nbytes = _dir_stats(os.path.join(
                    self.table, f"cidade={c}", f"ano={a}", f"mes={m}"))
                tracer.add("pipelines.files_written", files)
                tracer.add("pipelines.bytes_out", nbytes)
            tracer.add("pipelines.bytes_in", self.inp["bytes"][job])
        return Op(lat, ok, self.inp["rows"][job], "{}-{}".format(*job))

    def run_pass(self, spark, tracer) -> list[Op]:
        # one pass is one backfill job; passes rotate through the grid.
        # Each job starts from an empty table: in a table that grows pass
        # by pass, every job lists more files than the one before, and
        # the figures would depend on how many passes fit the window
        job = self.inp["jobs"][self.passes % len(self.inp["jobs"])]
        self.passes += 1
        shutil.rmtree(self.table, ignore_errors=True)
        fetch = self._fetch_fn(spark, tracer)
        return [self._op(spark, tracer, "job-{}-{}".format(*job),
                         lambda: self._job(spark, tracer, fetch, job))]

    def probe(self, spark, tracer) -> list[Op]:
        # transform cost alone: one job's plan into a sink that writes
        # nothing
        c, a = self.inp["jobs"][0]
        with tracer.span("pipelines.transform"):
            (pipelines.royalties_pipeline(
                spark, [c], [a], MESES,
                fetch_fn=html_fetch(self.inp["base_url"]))
             .write.format("noop").mode("overwrite").save())
        return []


# --------------------------------------------------------------------------
# analyst_mix
# --------------------------------------------------------------------------

# Registry queries in the timed mix: relational and money (q01, q02, q04,
# q05, q06, q14), as-of join (q34), windows (q50, q52), text stats (q20,
# q22) and ANN top-k (q46). Each runs in under a second and a half, so a
# pass takes 5-8 s and a run makes two to four passes.
MIX = [
    "q01_pricing_summary", "q02_term_filter_normalize", "q04_monthly_revenue",
    "q05_top_customers", "q06_union_consolidation",
    "q14_range_join_ship_lag", "q34_asof_join", "q50_tumbling_window",
    "q52_session_windows", "q20_token_stats", "q22_langid_heuristic",
    "q46_ivf_ann_topk",
]
# Operator-heavy queries, 1.5-2.5 s each warm at sf0.01 (two to four
# times the rest): percentiles (q19, q109), ML parity (q62), batch dedup
# (q31) and trained ANN top-k (q63, q103). In the mix they left room for
# one pass per run, whose figures swung by a quarter from run to run, so
# they run in the traced run's probe instead, once to warm and once
# timed. Left out on purpose: q107 (canonical dedup) persists cluster
# state under the repository's .scratch/, keyed by input file, so every
# seeded run would build and leave behind a new state directory; q60
# (scaler stats) disagrees with its DuckDB twin in the last digits of
# l_extendedprice_std_pop on some seeded inputs (seed 15), which would
# count as a failed operation.
PROBED = ["q19_percentiles", "q109_percentiles_bucketed",
          "q62_kmeans_clusters", "q31_minhash_lsh_dedup",
          "q63_ivf_trained_topk", "q103_ivfpq_residual_refine_topk"]

# Scale factor of the generated star schema. sf0.01, not the sf0.1 of the
# repository's bench: at sf0.1 one run took 99 s on a 4-vCPU VM (76 s of
# set-up: 29 s of DuckDB reference outputs, 45 s of warm-up), which puts
# the benchmark's runs over their time budget, while a pass grew only
# 1.4x (9.7 s against 7 s), so the mix measures per-query planning and
# scheduling at either scale.
SCALE = 0.01

# the operator layers the per-layer trace attributes query time to
OPERATOR_LAYERS = ("joins", "percentiles", "dedup", "similarity",
                   "textstats", "ml")


def _operator_modules(fn, seen=None) -> set[str]:
    """Operator layers a query builder reaches: names in its code (and in
    the plan helpers it calls) that resolve to ``operators.<m>`` or
    ``ml``. Scans code objects only; nothing is executed."""
    import types

    seen = set() if seen is None else seen
    if fn in seen or not isinstance(fn, types.FunctionType):
        return set()
    seen.add(fn)
    pkg = "etl_transparencia_sergipe_spark."
    found: set[str] = set()

    def scan(code):
        for name in code.co_names:
            for mod in (name, getattr(fn.__globals__.get(name), "__module__",
                                      "") or ""):
                if mod.startswith(pkg + "operators."):
                    found.add(mod.split(".")[2])
                elif mod == pkg + "ml":
                    found.add("ml")
            obj = fn.__globals__.get(name)
            if (isinstance(obj, types.FunctionType)
                    and obj.__module__.startswith(pkg + "plans")):
                found.update(_operator_modules(obj, seen))
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                scan(const)

    scan(fn.__code__)
    return found


def _arrow_to_pandas(tbl) -> pd.DataFrame:
    """Arrow result -> pandas the way ``toPandas`` renders it (zoned
    timestamps as naive session-zone UTC), so results hash like the
    repository's correctness gate."""
    df = tbl.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


class AnalystMix(_Workload):
    """Seeded order of registry queries over a generated star schema;
    each result is checked against its DuckDB twin."""

    item = "queries"

    def generate(self, root: str, rng: np.random.Generator) -> dict:
        self.root = root
        self.data = os.path.join(root, "sf")
        self.rng = rng
        # drawn now, so the traced run's corpus does not depend on how
        # many passes consumed ``rng``
        self.corpus_seed = int(rng.integers(2**63))
        return inputs.star_schema(self.data, rng,
                                  0.001 if self.smoke else SCALE)["size"]

    def reference(self) -> None:
        import duckdb

        from check_correctness import canonical
        from etl_transparencia_sergipe_spark.plans import registry
        from etl_transparencia_sergipe_spark.sources.catalog import TABLES

        self.canonical = canonical
        self.builders = registry.queries()
        oracles = registry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        # a Python twin, where the registry has one, replaces literal
        # constants trained on the repository's own test data
        self.expected = {}
        for q in MIX + PROBED:
            py = registry.REGISTRY[q].oracle_py
            self.expected[q] = canonical(
                py(con) if py else con.execute(oracles[q]).fetchdf())
        con.close()
        self.layers = {q: _operator_modules(self.builders[q])
                       for q in MIX + PROBED}

    def _query(self, spark, tracer, q: str) -> Op:
        t0 = time.perf_counter()
        with tracer.span("plans.build", query=q):
            df = self.builders[q](spark, self.data)
        with tracer.span("plans.execute", query=q):
            tbl = df.toArrow()
        lat = time.perf_counter() - t0
        if tracer.enabled:
            tracer.add(f"plans.{q.split('_')[0]}_s", lat)
            tracer.add(f"plans.{q.split('_')[0]}.n", 1)
            tracer.add("caching.leaked_rdds",
                       len(persistent_rdd_ids(spark)))
        with tracer.span("caching.release"):
            release_all(spark)
        ok = self.canonical(_arrow_to_pandas(tbl)) == self.expected[q]
        return Op(lat, ok, 1, q)

    def warm(self, spark) -> None:
        # every plan once, from concurrent client threads: a cold query is
        # mostly single-threaded planning and code generation on the
        # driver, so the queries overlap well and set-up stays short
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            list(pool.map(lambda q: self.builders[q](spark, self.data)
                          .toArrow(), MIX))
        release_all(spark)
        # then two passes as timed: the first three sequential passes
        # still ran 10-30% slower than the ones after them
        for _ in range(2):
            self.run_pass(spark, Tracer(False))

    def run_pass(self, spark, tracer) -> list[Op]:
        order = [MIX[i] for i in self.rng.permutation(len(MIX))]
        return [self._op(spark, tracer, f"query-{q}",
                         lambda q=q: self._query(spark, tracer, q))
                for q in order]

    def probe(self, spark, tracer) -> list[Op]:
        """Layers no timed pass reaches: the operator-heavy queries (one
        untimed run each, then one traced), and the streaming ingest
        (``streaming``, ``operators.sigstore``): a seeded corpus streamed
        once through the signature-store dedup, its flags checked."""
        ops = []
        for q in PROBED:
            self._query(spark, Tracer(False), q)
            ops.append(self._op(spark, tracer, f"query-{q}",
                                lambda q=q: self._query(spark, tracer, q)))
        corpus = Corpus(os.path.join(self.root, "corpus"),
                        np.random.default_rng(self.corpus_seed), self.smoke)
        op = corpus.stream(spark, tracer)
        corpus.sink(spark, tracer)
        self.batch_times = corpus.batch_times
        return ops + [op]


# --------------------------------------------------------------------------
# streaming corpus ingest (probed in analyst_mix's traced run)
# --------------------------------------------------------------------------


class Corpus:
    """A seeded corpus split into files, streamed through the
    signature-store ingest dedup (one micro-batch per file), with the
    expected flag set computed independently in DuckDB."""

    def __init__(self, root: str, rng: np.random.Generator, smoke: bool):
        self.root = root
        self.docs = os.path.join(root, "docs")
        n_files, per_file = (4, 60) if smoke else (5, 300)
        self.inp = inputs.corpus_files(self.docs, rng, n_files, per_file,
                                       dup_frac=0.1)
        self.expected = self._reference()
        self.batch_times: list[tuple[float, float]] = []

    def _reference(self) -> set:
        """Expected flag set, computed in DuckDB from the documents alone
        with the MinHash/LSH definition (word 3-shingles, md5-derived
        hashes, 4 bands of 4 rows) written out in SQL: a (old, new) pair
        is flagged when the documents sit in different files, old first,
        share a band and agree on >= 8 of 16 minhash components."""
        import duckdb

        from etl_transparencia_sergipe_spark.operators.dedup import (
            _band_key,
            tokens_duck,
        )
        from etl_transparencia_sergipe_spark.operators.hashing import (
            HASH_A,
            HASH_B,
            MERSENNE,
            h60_duck,
        )

        k, bands, r = 16, 4, 4
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE docs AS SELECT doc_id, text, "
            "CAST(regexp_extract(filename, 'batch(\\d+)', 1) AS INT) AS f "
            f"FROM read_parquet('{self.docs}/*.parquet', filename=true)")
        mh = ", ".join(
            f"list_min(list_transform(hs, h -> ({HASH_A[i]} * h + "
            f"{HASH_B[i]}) % {MERSENNE})) AS mh{i}" for i in range(k))
        agree = " + ".join(f"CAST(a.mh{i} = b.mh{i} AS INT)"
                           for i in range(k))
        band = " UNION ALL ".join(
            f"SELECT doc_id, f, {b} AS band_id, "
            f"{h60_duck(_band_key([f'mh{b * r + j}' for j in range(r)]))}"
            f" AS band_hash FROM sig" for b in range(bands))
        con.execute(f"""
            CREATE TABLE sig AS
            WITH tok AS (SELECT doc_id, f, {tokens_duck('text')} AS t
                         FROM docs),
            sh AS (SELECT doc_id, f, list_distinct(CASE WHEN len(t) < 3
                       THEN [array_to_string(t, ' ')]
                       ELSE list_transform(range(1, len(t) - 1),
                           j -> array_to_string(t[j:j + 2], ' ')) END) AS s
                   FROM tok),
            hs AS (SELECT doc_id, f, list_transform(s, x ->
                       {h60_duck('x')} % {MERSENNE}) AS hs FROM sh)
            SELECT doc_id, f, {mh} FROM hs""")
        con.execute(f"CREATE TABLE banded AS {band}")
        rows = con.execute(f"""
            WITH cand AS (
                SELECT DISTINCT x.doc_id AS old_id, y.doc_id AS new_id
                FROM banded x JOIN banded y
                  ON x.band_id = y.band_id AND x.band_hash = y.band_hash
                 AND x.f < y.f)
            SELECT old_id, new_id FROM cand
            JOIN sig a ON a.doc_id = old_id
            JOIN sig b ON b.doc_id = new_id
            WHERE {agree} >= 8""").fetchall()
        con.close()
        return set(rows)

    def _paths(self, tag: str) -> tuple[str, str, str]:
        base = os.path.join(self.root, tag)
        shutil.rmtree(base, ignore_errors=True)
        return tuple(os.path.join(base, p)
                     for p in ("store", "flags", "checkpoint"))

    def _flags(self, spark, path: str) -> set:
        if not os.path.exists(path):
            return set()
        return {(r[0], r[1]) for r in
                spark.read.parquet(path).select("old_id", "new_id").collect()}

    def stream(self, spark, tracer) -> Op:
        """Every file through ``run_ingest_dedup`` (one stream, drained);
        one operation, correct when the flags match the reference."""
        from etl_transparencia_sergipe_spark.streaming.sigstore_stream import (
            run_ingest_dedup,
        )

        store, flags, ckpt = self._paths("stream")
        t0 = time.perf_counter()
        with tracer.span("streaming.run_ingest_dedup"):
            q = run_ingest_dedup(spark, self.docs, store, flags, ckpt)
        lat = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        ok = self._flags(spark, flags) == self.expected
        tracer.add("streaming.batches", len(progress))
        self.batch_times += [
            (p.durationMs.get("triggerExecution", 0) / 1000,
             p.durationMs.get("addBatch", 0) / 1000) for p in progress]
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)
        return Op(lat, ok, self.inp["size"]["documents"], "corpus_ingest")

    def sink(self, spark, tracer) -> None:
        """The foreachBatch sink body driven directly, one epoch per file,
        to time it apart from the stream's trigger machinery."""
        from etl_transparencia_sergipe_spark.streaming.sigstore_stream import (
            sigstore_ingest_sink,
        )

        store, flags, _ = self._paths("sink")
        sink = sigstore_ingest_sink(store, flags)
        for epoch, path in enumerate(self.inp["files"]):
            with tracer.span("sigstore.sink", epoch=epoch):
                sink(spark.read.parquet(path), epoch)
        files, nbytes = _dir_stats(store)
        tracer.add("sigstore.store_files", files)
        tracer.add("sigstore.store_bytes", nbytes)
        tracer.add("sigstore.flags", len(self._flags(spark, flags)))
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)


WORKLOADS = {
    "royalty_backfill": RoyaltyBackfill,
    "analyst_mix": AnalystMix,
}
