"""Benchmark harness — runs the bench set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Bench set selection (round 5 — full-surface coverage, r4 VERDICT item
1: regressions outside the 31-query headline set were invisible):
- default: EVERY registered query (95; the 88 oracle-backed ones get a
  DuckDB ratio from the driver, the 7 rows-only ones are Spark-timed
  only)
- SPARK_GRAFT_BENCH_SET=headline: the historical 31-query headline set
- SPARK_GRAFT_BENCH_QUERIES=q31_...,q33_...: explicit comma list (used
  for the sf1 >=1s tier)

Each query is fully materialized on the driver via Arrow (``toArrow``;
the DuckDB twin uses ``.arrow()``) so the whole plan executes and the
result crosses into the client process on BOTH engines through the same
columnar path. Round-4 methodology note: ``collect()`` vs ``fetchall()``
measured Python row-object construction, not the engine — on q52's 992k
result rows that overhead was 4.7 s for Spark's Py4J rows vs ~0 for the
2-second compute being measured. Session build and first-query JVM
warmup are excluded via a warmup pass.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_transparencia_sergipe_spark.caching import release_all, reclaim_disk
from etl_transparencia_sergipe_spark.session import get_spark
import __spark_entry__ as entrymod

HEADLINE = [
    "q01_pricing_summary",
    "q02_term_filter_normalize",
    "q03_money_roundtrip",
    "q04_monthly_revenue",
    "q05_top_customers",
    "q06_union_consolidation",
    "q08_semi_join_big_orders",
    "q09_top_order_per_customer",
    "q11_rollup_revenue",
    "q12_distinct_customers_monthly",
    "q14_range_join_ship_lag",
    "q15_json_extract_events",
    "q20_token_stats",
    "q22_langid_heuristic",
    "q30_exact_dedup",
    "q31_minhash_lsh_dedup",
    "q32_simhash_dedup",
    "q33_ngram_jaccard_topk",
    "q35_levenshtein_neardup",
    "q40_knn_bruteforce",
    "q50_tumbling_window",
    "q52_session_windows",
    "q57_pack_chunks",
    "q64_decontamination",
    "q70_multimodal_metadata",
    "q77_event_funnel",
    "q79_incremental_dedup",
    "q82_dup_text_fraction",
    "q84_chunk_dedup",
    "q87_semantic_dedup",
    "q88_scd2_intervals",
]


def _proc_stat_jiffies() -> tuple[int, int, int]:
    """(busy, total, steal) jiffies from the aggregate cpu line of
    /proc/stat.

    busy excludes idle and iowait; the delta across the timed loop gives
    WHOLE-BOX cpu utilization during the run — other tenants included,
    which is exactly the contention signal the record needs (round-10
    VERDICT: driver warm 113.8s vs idle-box 93.8s was reconciled by
    narrative, not data). steal is reported separately: nonzero steal
    means the HYPERVISOR is taking cycles — the round-11 cross-day
    shift class that loadavg and in-VM contention metrics cannot see.
    Returns (0, 0, 0) off-Linux.
    """
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        steal = vals[7] if len(vals) > 7 else 0
        return sum(vals) - idle, sum(vals), steal
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def _proc_tree_cpu_sec() -> float:
    """User+system CPU seconds consumed so far by this process and every
    LIVE descendant (the Spark JVM), summed from /proc/<pid>/stat —
    PLUS each live process's cutime/cstime, which is CPU burned by its
    already-REAPED children (e.g. pyspark worker daemons that exited
    mid-run). Without the reaped term that CPU vanished from self_cpu
    and inflated other_busy_frac, flagging idle boxes as CONTENDED
    (round-11 ADVICE). No double count: live descendants appear once in
    the tree walk, reaped subtrees once in their parent's cutime/cstime
    (a reaped child's own cutime is folded into the parent's by the
    kernel).

    os.times()/getrusage only see reaped children — the JVM outlives the
    timed loop — so walk the ppid tree instead. Returns 0.0 off-Linux.
    """
    try:
        hz = os.sysconf("SC_CLK_TCK")
        kids: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue  # raced a process exit
            # comm (field 2) may contain spaces — split after the last ')'
            rest = st[st.rindex(")") + 2:].split()
            # utime+stime (this process) + cutime+cstime (reaped kids)
            ticks[int(d)] = (int(rest[11]) + int(rest[12])
                             + int(rest[13]) + int(rest[14]))
            kids.setdefault(int(rest[1]), []).append(int(d))
        total, stack = 0, [os.getpid()]
        while stack:
            p = stack.pop()
            total += ticks.get(p, 0)
            stack.extend(kids.get(p, []))
        return total / hz
    except (OSError, ValueError):
        return 0.0


def _calib_cpu_sec() -> float:
    """Fixed single-threaded CPU probe: sha256 over a constant 1 MiB
    buffer, 400 rounds (~0.5-1 s on this box class). Pure compute, no
    allocation churn, no I/O — the wall tracks per-core speed, which is
    exactly what the round-11 cross-day host shift moved. Recorded in
    the box dict so bench_diff can NORMALIZE cross-day walls by
    measured box speed instead of exempting flags (round-11 VERDICT
    item 1)."""
    import hashlib

    buf = bytes(range(256)) * 4096  # 1 MiB, deterministic
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(400):
        h.update(buf)
    h.hexdigest()
    return round(time.perf_counter() - t0, 4)


def _calib_shuffle_sec(spark) -> float:
    """Fixed Spark probe: range(4M) -> hash-agg on 512 keys -> count,
    32 partitions. One throwaway execution pays Janino codegen, then
    the median of 3 measures steady-state JVM+scheduler+exchange
    throughput — the second axis a host shift moves (JIT/thread
    scheduling), which the pure-Python probe cannot see."""
    def run() -> float:
        t0 = time.perf_counter()
        (spark.range(0, 4_000_000, 1, 32)
         .selectExpr("id % 512 AS k")
         .groupBy("k").count().count())
        return time.perf_counter() - t0

    run()  # codegen compile, untimed
    return round(statistics.median(run() for _ in range(3)), 4)


def bench_names(qs: dict) -> list[str]:
    """Resolve the bench set from the environment (module docstring)."""
    explicit = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if explicit:
        names = [n.strip() for n in explicit.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown bench queries: {unknown}")
        return names
    if os.environ.get("SPARK_GRAFT_BENCH_SET") == "headline":
        return [n for n in HEADLINE if n in qs]
    return list(qs)


def main() -> None:
    # Box-state snapshot at ENTRY — before session build and the warmup
    # pass, whose own CPU would otherwise inflate loadavg_before and
    # falsely flag every run as contended. The window therefore covers
    # warmup + timed loop; other_busy_frac (box minus self) is the
    # contention signal either way.
    load_before = os.getloadavg()
    busy0, jtot0, steal0 = _proc_stat_jiffies()
    cpu0 = _proc_tree_cpu_sec()
    wall0 = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The session's 2-min periodic GC (disk-leak protection for ad-hoc
    # long sessions) fires MID-QUERY on a run this long: a full 24g-heap
    # collection plus the ContextCleaner churn it triggers lands inside
    # whatever query is executing — measured as q39 warm 11.7 s vs its
    # 5.9 s steady state at sf0.1. The bench places the same GC
    # deterministically at every query boundary instead (below,
    # outside the timers — ~0.2 s each), so the periodic timer is
    # stretched out of the way: cleanup now happens ~218x per run, far
    # more often than every 2 min.
    calib_cpu = _calib_cpu_sec()
    spark = get_spark("bench", extra_conf={
        "spark.cleaner.periodicGC.interval": "60min"})
    calib_shuffle = _calib_shuffle_sec(spark)

    qs = entrymod.queries()
    names = bench_names(qs)

    # Warmup: one pass over every table (JVM/reader init + OS page cache —
    # the DuckDB twin benches against the same warm file cache), then every
    # headline plan SHAPE once at sf0.001. The tiny-SF pass compiles each
    # plan's generated code (Janino) and warms the JVM JIT without touching
    # the timed SF's data or caches (different input paths -> different
    # analyzed plans -> no CacheManager reuse), so the timed runs below
    # measure execution, not one-time compilation — the same footing as the
    # DuckDB oracle, whose query compilation is microseconds.
    from etl_transparencia_sergipe_spark.sources.catalog import TABLES, load_table
    for t in TABLES:
        load_table(spark, t, sf_dir).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.realpath(warm_dir) == os.path.realpath(sf_dir):
        # benching the warmup SF itself: a per-plan warm pass would leave
        # persisted frames the timed run silently reuses — warm only the
        # first query instead
        qs[names[0]](spark, sf_dir).collect()
    else:
        for name in names:
            try:
                qs[name](spark, warm_dir).collect()
            except Exception:
                pass  # warmup is best-effort; the timed run surfaces errors

    spark.catalog.clearCache()  # drop frames persisted by warmup plans

    # Round-7 protocol (r6 VERDICT item 2): each query runs cold first —
    # a single-shot (first execution of this plan at this SF: pays
    # per-query Janino codegen compile, the historical column and the
    # drift-gate input, kept for continuity) — then warm repeats (fresh
    # DataFrame build each time — re-executing the same DF object would
    # reuse materialized shuffle stages — measuring steady-state
    # execution). Round-10 protocol (r9 VERDICT item 7): the warm column
    # is the MEDIAN of 3 warm runs — single warm shots flagged q18-class
    # first-execution noise as drift in two consecutive rounds; a
    # steady-state median is what the drift gate should key on. The >2x
    # class list is computed from the WARM column: that is the number a
    # long-lived session / repeated production query sees, and it
    # replaces the per-round prose exemptions for the cold-codegen
    # quartet (q35/q84/q03/q46).
    # n_warm < 1 (0 or negative) means cold-only: runs[1:] would be
    # empty and statistics.median([]) raises, so clamp and record the
    # cold number as the warm column with an honest protocol label.
    n_warm = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARM_RUNS", "3")))
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    # per-query [min, max] across the warm repeats (round-12, r11
    # VERDICT item 4): at sf10 single-shot walls spread 220-313s on the
    # same query — a drift gate keyed on one number can't tell 1.3x
    # drift from protocol noise; the spread column makes the noise
    # band part of the record.
    warm_spread: dict[str, list[float]] = {}
    for name in names:
        runs: list[float] = []
        for _ in range(1 + n_warm):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            try:
                df.toArrow()
            except Exception:
                df.collect()  # Arrow-unsupported result type
            runs.append(round(time.perf_counter() - t0, 3))
            # dedup/similarity plans persist their signature frames for
            # reuse within one query; across back-to-back queries those
            # caches accumulate into executor-memory pressure that showed
            # up as 3x run-to-run swings (q31 2.0s vs 6.2s) — clear
            # OUTSIDE the timer. release_all also drops localCheckpoint
            # blocks (CC-tier lineage truncation), which clearCache never
            # touches and which measured 2-3x on the queries that follow
            # a CC run in session order (caching.py:release_persistent_rdds).
            # The explicit GC replaces the periodic timer (see session
            # build above): reference-tracked cleanup (old shuffle files,
            # broadcasts) runs NOW, on an emptied heap, not mid-query.
            # On a healthy disk the boundary is the historical single
            # System.gc(); under disk pressure it escalates to the settle
            # loop — a single GC hint loses the shuffle-deletion relay
            # race and the backlog compounds (round-12: the sf10 heavy
            # tier ENOSPC'd 76 GiB in 14 min through the single-hint
            # boundary).
            release_all(spark)
            reclaim_disk(spark, floor_free_gib=float(
                os.environ.get("SPARK_GRAFT_BENCH_DISK_FLOOR_GIB", "30")))
        timings[name] = runs[0]
        warm[name] = (round(statistics.median(runs[1:]), 3)
                      if n_warm >= 1 else runs[0])
        if n_warm >= 2:
            warm_spread[name] = [min(runs[1:]), max(runs[1:])]

    wall = time.perf_counter() - wall0
    busy1, jtot1, steal1 = _proc_stat_jiffies()
    self_cpu = _proc_tree_cpu_sec() - cpu0
    ncpus = os.cpu_count() or 1
    box_busy = ((busy1 - busy0) / (jtot1 - jtot0)
                if jtot1 > jtot0 else 0.0)
    self_busy = self_cpu / (wall * ncpus) if wall > 0 else 0.0
    # other_busy_frac is the contention number: whole-box utilization
    # during the timed loop minus this process tree's own share. On an
    # idle box it reads ~0; the round-10 driver-vs-replication gap
    # (113.8s vs 93.8s warm) would have shown up here.
    box = {
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "wall_sec": round(wall, 3),
        "self_cpu_sec": round(self_cpu, 3),
        "box_busy_frac": round(box_busy, 4),
        "self_busy_frac": round(self_busy, 4),
        "other_busy_frac": round(max(0.0, box_busy - self_busy), 4),
        "steal_frac": round((steal1 - steal0) / (jtot1 - jtot0), 4)
        if jtot1 > jtot0 else 0.0,
        "ncpus": ncpus,
        # Fixed-work calibration probes (round-12, r11 VERDICT item 1):
        # constant workloads whose wall measures BOX SPEED, letting
        # cross-day comparisons normalize by probe ratio instead of
        # blanket-exempting host shifts.
        "calib_cpu_sec": calib_cpu,
        "calib_shuffle_sec": calib_shuffle,
    }

    total = round(sum(timings.values()), 3)
    # Round-13 one-line-JSON hardening (r12 VERDICT item 2): the driver
    # lost the r11->r12 comparison because the emitted line grew past its
    # tail-capture window and json.loads failed (BENCH_r11 parsed: null).
    # Three protections:
    #  1. BOUNDED line: per-run detail (warm spreads, box/contention
    #     stats) moves to a sidecar file the JSON references — the line
    #     keeps only the driver-contract fields plus queries_warm.
    #  2. FINAL-LINE emission straight to the fd, flushed.
    #  3. Round-trip self-check: json.loads the exact emitted string
    #     before printing; a malformed line fails THIS process, not the
    #     driver's parser.
    sidecar_path = Path(__file__).resolve().parent / "bench_sidecar.json"
    try:
        sidecar_path.write_text(json.dumps({
            "queries_warm_spread": warm_spread,
            "box": box,
        }, indent=1))
        sidecar_ref = str(sidecar_path)
    except OSError:
        sidecar_ref = None  # read-only checkout: detail is lost, line isn't
    line = json.dumps({
        "metric": "bench_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "value_warm": round(sum(warm.values()), 3),
        "warm_protocol": (f"median_of_{n_warm}" if n_warm >= 1
                          else "cold_only"),
        **({"detail_file": sidecar_ref} if sidecar_ref else {}),
        "sf": float(sf),
    }, separators=(",", ":"))
    if json.loads(line)["value"] != total:  # round-trip self-check
        raise RuntimeError(f"bench JSON round-trip changed value {total}")
    sys.stdout.flush()
    sys.stdout.write(line + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
