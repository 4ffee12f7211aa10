"""Second relational batch: cube, exact percentiles, rank windows, array/
map functions, filename parsing, membership lookup, as-of join, approx
aggregates (SURVEY.md A8/A9, §2.5, F9/F15, P8, J5-adjacent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators.joins import asof_join
from etl_transparencia_sergipe_spark.plans._helpers import dsum, dsum_sql, load
from etl_transparencia_sergipe_spark.plans.registry import register


@register(
    "q18_cube_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="A9 cube over (returnflag, linestatus) incl. all subtotal planes",
)
def q18_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.operators.scale import fan_out

    li = load(spark, "lineitem", sf_dir)
    # round 12: CUBE expands every row 4x before the partial agg, all
    # inside a single-file scan's one task locally — fan the 3-column
    # projection out first (q01's pattern; 12 output groups, so the
    # partial agg collapses and the exchange stays tiny)
    return fan_out(
        li.select("l_returnflag", "l_linestatus", "l_quantity")
    ).cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))


@register(
    "q19_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, [0.25, 0.75])[1] AS p25_price,
           quantile_cont(l_extendedprice, [0.25, 0.75])[2] AS p75_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact percentiles (continuous interpolation) per group — Spark "
        "percentile == DuckDB quantile_cont. TERMINAL perf note "
        "(round 8, closes the 3-round carry): warm sf1 decomposition — "
        "scan+stack 0.2 s, distribution hash-agg exchange +0.5 s, "
        "window sort + interpolation aggregates +1.0 s (~1.7 s total "
        "vs DuckDB's 0.26 s in-memory radix select). Every stage is "
        "the 100 TB-correct shape: the exchange carries one row per "
        "DISTINCT value (l_extendedprice is near-unique, so ~O(rows) "
        "compressed only by constant factors), memory per task is "
        "O(distinct-per-partition), and the single-buffer "
        "F.percentile alternative remains an executor OOM at scale. "
        "The remaining gap is multi-stage scheduling + one "
        "distinct-value exchange that a single-node radix select "
        "never pays — accepted as the class cost; q56 (same class) "
        "was closed this round by fusing its consumer onto the "
        "distribution, the one real redundancy the class had. The "
        "single-task-per-group window ceiling itself is ALSO closed: "
        "percentiles_bucketed (operators/percentiles.py) brackets the "
        "target ranks through a bounded bucket histogram so no task "
        "ever sorts more than distinct/n_buckets rows — bit-identical "
        "(test-pinned). Round 10 (r9 VERDICT item 6): the switchover "
        "is now a PLAN DECISION — this query runs the default AUTO "
        "mode, where one approx_count_distinct pass over the pruned "
        "columns compares max distinct-per-(group, column) against the "
        "50M per-task budget (operators/percentiles.py "
        "DISTINCT_BUDGET_PER_TASK; protocol in BASELINE.md) and picks "
        "windowed below it, bucketed above — so the same registered "
        "query ships the bounded plan the moment the data needs it.",
)
def q19_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution-compressed exact percentiles (operators/percentiles):
    # F.percentile's ObjectHashAggregate buffers every group value in one
    # aggregation buffer — O(group) memory and a single-task merge, the
    # thing that cannot survive 100x — while this plan shuffles one row
    # per DISTINCT value (l_quantity: 50/group). Bit-identical to
    # F.percentile (tests/test_percentiles.py) and to quantile_cont (this
    # oracle, unchanged).
    from etl_transparencia_sergipe_spark.operators.percentiles import (
        exact_percentiles_stacked,
    )

    li = load(spark, "lineitem", sf_dir)
    return exact_percentiles_stacked(li, ["l_returnflag"], [
        ("l_quantity", [0.5], ["median_qty"]),
        ("l_extendedprice", [0.25, 0.75], ["p25_price", "p75_price"]),
    ]).select("l_returnflag", "median_qty", "p25_price", "p75_price")


@register(
    "q109_percentiles_bucketed",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, [0.25, 0.75])[1] AS p25_price,
           quantile_cont(l_extendedprice, [0.25, 0.75])[2] AS p75_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact percentiles via bucket-bracketed rank selection "
        "(operators/percentiles.percentiles_bucketed) — q19's semantics "
        "(same oracle, bit-identical output) through the plan whose "
        "per-task work is BOUNDED at any scale (round-9 VERDICT item "
        "5): q19's cumulative window sorts each (group, column)'s full "
        "distinct-value set in ONE task — O(group rows) for near-unique "
        "columns like l_extendedprice, an executor ceiling at 100 TB. "
        "Here no task ever sorts more than ~distinct/4096 rows: bucket "
        "histogram -> cumulative over <=4096 bucket rows -> local "
        "window inside <=2 covering buckets per percentile. At bench "
        "scale it pays a persist + four extra bounded stages for that "
        "bound (see BASELINE.md crossover note); registered so the "
        "100x-scale plan is the certified one, not a test-only twin.",
)
def q109_percentiles_bucketed(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.operators.percentiles import (
        exact_percentiles_stacked,
    )

    li = load(spark, "lineitem", sf_dir)
    return exact_percentiles_stacked(li, ["l_returnflag"], [
        ("l_quantity", [0.5], ["median_qty"]),
        ("l_extendedprice", [0.25, 0.75], ["p25_price", "p75_price"]),
    ], bucketed=True).select(
        "l_returnflag", "median_qty", "p25_price", "p75_price")


@register(
    "q25_rank_windows",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
    QUALIFY rnk <= 20
    """,
    doc="§2.5 rank/dense_rank/ntile windows with top-20 filter",
)
def q25_rank_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    wt = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(wt).alias("quartile"),
        )
        .filter("rnk <= 20")
    )


@register(
    "q26_map_explode",
    oracle="""
    WITH kv AS (
        SELECT event_type,
               unnest(map_entries(CAST(props::JSON AS MAP(VARCHAR, VARCHAR))))
                   AS e
        FROM events
    )
    SELECT event_type, e.key AS k, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS BIGINT)) AS BIGINT) AS sum_v
    FROM kv GROUP BY 1, 2
    """,
    doc="F15 map functions: JSON -> MapType -> explode -> agg over entries",
)
def q26_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    m = ev.select(
        "event_type",
        F.from_json("props", "map<string,string>").alias("props_map"),
    )
    kv = m.select("event_type", F.explode("props_map").alias("k", "v"))
    return kv.groupBy("event_type", "k").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("bigint")).cast("bigint").alias("sum_v"),
    )


@register(
    "q27_filename_parse",
    oracle="""
    SELECT prefix, COUNT(*) AS n, MAX(mes) AS max_mes
    FROM (
        SELECT array_to_string(
                   (string_split(source || '_royalties_2024_' ||
                                 lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0'),
                                 '_'))[1:-3], '_') AS prefix,
               CAST((string_split(source || '_royalties_2024_' ||
                     lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0'),
                     '_'))[-1] AS INT) AS mes
        FROM documents
    ) GROUP BY prefix
    """,
    doc="F9 filename parse (split/slice/array_join) — the notebook's "
        "'_'.join(name.split('_')[:-2]) prefix extraction "
        "(OSR_aracaju_barra__pirambu.ipynb:1125-1131)",
)
def q27_filename_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    fname = F.concat(
        "source", F.lit("_royalties_2024_"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"))
    parts = F.split(fname, "_")
    parsed = docs.select(
        F.array_join(F.slice(parts, 1, F.size(parts) - 2), "_").alias("prefix"),
        F.element_at(parts, -1).cast("int").alias("mes"),
    )
    return parsed.groupBy("prefix").agg(
        F.count("*").alias("n"), F.max("mes").alias("max_mes"))


@register(
    "q28_isin_lookup",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderstatus NOT IN ('P')
    GROUP BY o_orderpriority
    """,
    doc="P8 membership lookup (isin / not isin) "
        "(teste_selenium.ipynb textos_possiveis loop)",
)
def q28_isin_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                 & ~F.col("o_orderstatus").isin("P"))
        .groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    )


@register(
    "q34_asof_join",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate,
               MAX_BY(o_orderkey, o_orderkey) AS o_orderkey,
               MAX(o_totalprice) AS o_totalprice
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.user_id,
           COUNT(*) AS n_events,
           COUNT(o.o_orderkey) AS n_matched,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_matched_price
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    GROUP BY e.user_id
    """,
    doc="as-of join (backward): latest order per customer at event time, "
        "via union-sort-window (no native Spark op; one shuffle) [EXT J5]",
)
def q34_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    o = (
        load(spark, "orders", sf_dir)
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max_by("o_orderkey", "o_orderkey").alias("o_orderkey"),
             F.max("o_totalprice").alias("o_totalprice"))
    )
    joined = asof_join(
        ev.withColumnRenamed("user_id", "k"),
        o.withColumnRenamed("o_custkey", "k"),
        on="k", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"])
    return joined.groupBy(F.col("k").alias("user_id")).agg(
        F.count("*").alias("n_events"),
        F.count("o_orderkey").alias("n_matched"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .alias("sum_matched_price"),
    )


@register(
    "q36_upsert_merge",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,3)) AS o_totalprice
        FROM orders
    ), delta AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.1 AS DECIMAL(3,1)) AS DECIMAL(18,3))
               AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
    ), merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM base o
        WHERE NOT EXISTS (SELECT 1 FROM delta d
                          WHERE d.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT * FROM delta
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_totalprice) AS DOUBLE) AS total
    FROM merged GROUP BY o_orderstatus
    """,
    doc="MERGE INTO emulation (anti-join + union upsert) — row-level "
        "generalization of the reference's idempotent month overwrite "
        "(file_utils.py:57) [EXT]. Delta arithmetic is exact DECIMAL on "
        "both engines: DECIMAL(18,2) * DECIMAL(3,1) is an exact 3-decimal "
        "product, summed in decimal, surfaced as DOUBLE at the end — never "
        "round a double carrying 3 decimal digits to DECIMAL(18,2) (Spark "
        "rounds the shortest-repr string, DuckDB the binary value; they "
        "disagree on half-points).",
)
def q36_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.operators.upsert import upsert

    o = load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,3)").alias("o_totalprice"))
    delta = o.filter("o_orderkey % 7 = 0").withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(18,2)")
         * F.lit(1.1).cast("decimal(3,1)")).cast("decimal(18,3)"))
    merged = upsert(o, delta, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("o_totalprice").cast("double").alias("total"))


@register(
    "q37_unpivot",
    oracle="""
    SELECT l_returnflag, metric,
           CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM (
        SELECT l_returnflag, 'qty' AS metric, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    ) GROUP BY 1, 2
    """,
    doc="unpivot (wide->long via stack) + agg over the melted frame",
)
def q37_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    # round 12: scale.fan_out tried and dropped — one decimal sum per
    # stacked row is too little CPU to pay the pre-spread exchange for
    # (A/B medians 1.00-1.17 fanned vs 1.10-1.15 not; q01's 5-aggregate
    # shape is where the pattern wins)
    melted = li.selectExpr(
        "l_returnflag",
        "stack(3, 'qty', l_quantity, 'tax', l_tax, 'discount', l_discount)"
        " AS (metric, val)",
    )
    return melted.groupBy("l_returnflag", "metric").agg(
        F.sum(F.col("val").cast("decimal(18,4)")).cast("double")
        .alias("total"))


@register(
    "q43_approx_aggregates",
    oracle=None,  # approximate by design — engines use different sketches
    doc="A8 approx_count_distinct (HLL) + approx percentile — rows-only "
        "(sketch values are engine-specific by design); the local gate "
        "bound-checks both estimates against DuckDB's exact twins "
        "(3x rsd for the HLL count, [p49, p51] for the median)",
    bound_check=lambda sdf, con: _q43_bound_check(sdf, con),
)
def q43_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"),
    )


def _q43_bound_check(sdf, con) -> str | None:
    """q43's bounded-error gate (round-11, r10 VERDICT item 4; median
    envelope hardened round-12 per ADVICE): each group's
    approx_count_distinct must sit within 3x its default rsd
    (0.05 -> 15%) of DuckDB's exact distinct count, and each
    percentile_approx median must land between the exact DISCRETE p49
    and p51 (quantile_disc returns actual data elements — Spark's
    percentile_approx also returns an element, so for any group the
    envelope is guaranteed non-empty, unlike quantile_cont's
    interpolated endpoints which can bracket no element at small n).
    Groups with n < 100 rows skip the median check entirely: there the
    1%-rank margin is sub-one-element and the check degenerates to
    exact-median equality, which the sketch does guarantee
    (rank error 1e-4*n < 1) but which adds nothing over the disc
    endpoints and is the advice-flagged flakiness surface."""
    ex = con.execute("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               COUNT(l_extendedprice) AS n_rows,
               quantile_disc(l_extendedprice, 0.49) AS lo,
               quantile_disc(l_extendedprice, 0.51) AS hi
        FROM lineitem GROUP BY l_returnflag
    """).fetchdf().set_index("l_returnflag")
    errs = []
    if len(sdf) != len(ex):
        errs.append(f"group count {len(sdf)} != exact {len(ex)}")
    for r in sdf.itertuples(index=False):
        if r.l_returnflag not in ex.index:
            errs.append(f"unexpected group {r.l_returnflag!r}")
            continue
        e = ex.loc[r.l_returnflag]
        rel = abs(r.approx_parts - e.exact_parts) / e.exact_parts
        if rel > 0.15:
            errs.append(f"{r.l_returnflag}: approx_parts rel err "
                        f"{rel:.3f} > 0.15 (3x rsd 0.05)")
        if e.n_rows >= 100 and not (e.lo <= r.approx_median <= e.hi):
            errs.append(f"{r.l_returnflag}: approx_median "
                        f"{r.approx_median} outside disc [p49={e.lo}, "
                        f"p51={e.hi}] (n={e.n_rows})")
    return "; ".join(errs) or None


@register(
    "q48_grouping_sets",
    oracle=f"""
    SELECT year(o_orderdate) AS ano, o_orderpriority,
           CAST(grouping(year(o_orderdate)) AS INT) AS g_ano,
           CAST(grouping(o_orderpriority) AS INT) AS g_pri,
           {dsum_sql('o_totalprice')} AS rev, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority), ())
    """,
    doc="A9 GROUPING SETS: non-hierarchical grouping planes (per-year, "
        "per-priority, grand total) in one pass — not expressible as "
        "rollup/cube; grouping() markers disambiguate the NULL planes",
)
def q48_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, "orders", sf_dir).createOrReplaceTempView("orders_q48")
    return spark.sql("""
        SELECT year(o_orderdate) AS ano, o_orderpriority,
               CAST(grouping(year(o_orderdate)) AS INT) AS g_ano,
               CAST(grouping(o_orderpriority) AS INT) AS g_pri,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev,
               COUNT(*) AS n
        FROM orders_q48
        GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority), ())
    """)


@register(
    "q56_iqr_outliers",
    oracle="""
    WITH fences AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS q1,
               quantile_cont(l_extendedprice, 0.75) AS q3
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(l.l_extendedprice) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l.l_extendedprice > f.q3 + 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
           CAST(SUM(CASE WHEN l.l_extendedprice < f.q1 - 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers
    FROM lineitem l JOIN fences f ON l.l_returnflag = f.l_returnflag
    GROUP BY l.l_returnflag
    """,
    doc="data-quality outlier detection: per-group IQR fences "
        "(Tukey 1.5x) over prices — exact quantile_cont/percentile parity "
        "was established by q19, so the fence comparisons are "
        "deterministic cross-engine [EXT]. The fence table is tiny and "
        "broadcast back against the fact scan. n counts NON-NULL prices "
        "on both sides (oracle COUNT(l_extendedprice), engine "
        "SUM(_cnt) over the null-filtered distribution) — round-8 "
        "ADVICE: COUNT(*) matched only because TPC-H prices are "
        "never null; the null semantics are now pinned identically.",
)
def q56_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.caching import persist_scoped
    from etl_transparencia_sergipe_spark.operators.percentiles import (
        percentiles_from_distribution,
        value_distribution,
    )

    li = load(spark, "lineitem", sf_dir)
    # ONE fact scan, ONE exchange (round-7 VERDICT item 3): the
    # compressed (value, count) distribution feeds BOTH the fence
    # computation and the outlier COUNTS — comparing each distinct
    # value once against the fences and summing _cnt is exactly the
    # row-level comparison the previous plan re-scanned lineitem +
    # broadcast-joined 6M rows for (measured: 2.37 s -> see
    # BENCH_TABLES_r08). The fence comparison is on the same double
    # values either way, so results are bit-identical and the oracle is
    # unchanged.
    dist = value_distribution(li, ["l_returnflag"], "l_extendedprice") \
        .transform(persist_scoped)
    fences = percentiles_from_distribution(
        dist, ["l_returnflag"], [0.25, 0.75], ["q1", "q3"])
    return (
        dist.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("_cnt").cast("bigint").alias("n"),
            F.sum(F.expr(
                "CASE WHEN _v > q3 + 1.5 * (q3 - q1) "
                "THEN _cnt ELSE 0 END")).cast("bigint")
            .alias("n_high_outliers"),
            F.sum(F.expr(
                "CASE WHEN _v < q1 - 1.5 * (q3 - q1) "
                "THEN _cnt ELSE 0 END")).cast("bigint")
            .alias("n_low_outliers"),
        )
    )


@register(
    "q73_merge_materialized",
    oracle="""
    WITH base AS (
        SELECT EXTRACT(month FROM o_orderdate) AS mes, o_orderkey, o_custkey,
               o_orderstatus, CAST(o_totalprice AS DECIMAL(18,3)) AS o_totalprice
        FROM orders
    ), delta AS (
        SELECT mes, o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.1 AS DECIMAL(3,1)) AS DECIMAL(18,3))
               AS o_totalprice
        FROM base WHERE mes = 3
    ), merged AS (
        SELECT * FROM base WHERE mes <> 3
        UNION ALL
        SELECT * FROM delta
    )
    SELECT CAST(mes AS INT) AS mes, COUNT(*) AS n,
           CAST(SUM(o_totalprice) AS DOUBLE) AS total
    FROM merged GROUP BY mes
    """,
    doc="D9 MERGE materialized end-to-end [EXT]: writes the base table as "
        "(mes)-hive-partitioned parquet, then dynamic-partition-OVERWRITES "
        "a re-processed month-3 delta (the reference's idempotent month "
        "re-run, file_utils.py:57) and aggregates the READ-BACK files — "
        "unlike q36, the merge semantics here are enforced by the file "
        "layout, not the logical plan. The oracle merges purely in SQL; a "
        "stale or duplicated mes=3 partition on disk breaks the hash. "
        "The table lives in the artifacts state dir "
        "(quantizer_store.state_dir), keyed by sf tag, and every call "
        "rewrites base first so the query is idempotent.",
)
def q73_merge_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.operators.quantizer_store import (
        state_dir,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    out = str(state_dir(f"merge_{tag}"))

    base = load(spark, "orders", sf_dir).select(
        F.month("o_orderdate").alias("mes"),
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,3)").alias("o_totalprice"))
    # pass 1: full static overwrite resets any prior state (idempotence)
    base.write.mode("overwrite").partitionBy("mes").parquet(out)
    delta = base.filter(F.col("mes") == 3).withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(18,2)")
         * F.lit(1.1).cast("decimal(3,1)")).cast("decimal(18,3)"))
    # pass 2: dynamic overwrite replaces ONLY the mes=3 partition dir
    (delta.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("mes").parquet(out))
    merged = spark.read.parquet(out)
    return merged.groupBy(F.col("mes").cast("int").alias("mes")).agg(
        F.count("*").alias("n"),
        F.sum("o_totalprice").cast("double").alias("total"))


@register(
    "q94_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="J3/A7/O3 TPC-H Q3-shaped shipping priority: unshipped-revenue "
        "top-10 for one market segment — selective predicates on TWO fact "
        "scans (o_orderdate and l_shipdate both reach the parquet scan as "
        "PushedFilters), segment filter prunes customer before its "
        "broadcast, exact-DECIMAL revenue, TakeOrderedAndProject top-10 "
        "with full tie-break. The classic join-order/pushdown exercise "
        "for the optimizer at 100 TB: both date predicates cut the fact "
        "scans BEFORE the join, so the shuffle carries only the "
        "passing orders [EXT].",
)
def q94_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.plans._helpers import revenue_col

    c = (load(spark, "customer", sf_dir)
         .filter(F.col("c_mktsegment") == "BUILDING")
         .select("c_custkey"))
    o = (load(spark, "orders", sf_dir)
         .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
         .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"))
    li = (load(spark, "lineitem", sf_dir)
          .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date"))
          .select("l_orderkey", revenue_col().alias("rev")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd")
                 .alias("o_orderdate"),
                 "o_orderpriority")
        .agg(F.sum("rev").cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                 F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q96_cdc_apply",
    oracle="""
    WITH cdc AS (
        SELECT o_orderkey,
               CASE CAST(o_orderkey % 10 AS INT)
                    WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE NULL END AS op,
               CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS new_price
        FROM orders WHERE CAST(o_orderkey % 10 AS INT) IN (0, 1)
    ), survivors AS (
        SELECT o.o_orderkey,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM cdc c
                          WHERE c.o_orderkey = o.o_orderkey)
    ), applied AS (
        SELECT o_orderkey, new_price AS o_totalprice FROM cdc
        WHERE op <> 'D'
    ), merged AS (
        SELECT * FROM survivors UNION ALL SELECT * FROM applied
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(SUM(o_totalprice) AS DOUBLE) AS total
    FROM merged
    """,
    doc="D9 CDC apply (MERGE with deletes): a synthetic I/U/D change "
        "batch — every orderkey%10==0 deleted, %10==1 re-priced — "
        "applied to the orders base via operators/upsert.apply_cdc: one "
        "key anti-join for untouched survivors plus a union of the "
        "batch's non-delete rows, deletes falling out by omission. The "
        "MERGE flavor q36 (logical upsert) and q73 (partition-overwrite "
        "materialization) don't cover. Both sides co-partition on the "
        "key — single corpus-proportional shuffle at 100 TB [EXT].",
)
def q96_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_transparencia_sergipe_spark.operators.upsert import apply_cdc

    base = load(spark, "orders", sf_dir).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)")
        .alias("o_totalprice"))
    cdc = (load(spark, "orders", sf_dir)
           .filter((F.col("o_orderkey") % 10).cast("int").isin(0, 1))
           .select("o_orderkey",
                   F.when((F.col("o_orderkey") % 10).cast("int") == 0, "D")
                   .otherwise("U").alias("op"),
                   (F.col("o_totalprice") * 2).cast("decimal(18,2)")
                   .alias("o_totalprice")))
    merged = apply_cdc(base, cdc, ["o_orderkey"], op_col="op")
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_keys"),
        F.sum("o_totalprice").cast("double").alias("total"))
