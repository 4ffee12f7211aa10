"""Connected components / dedup clusters on known graphs."""

from __future__ import annotations

import pytest

from etl_transparencia_sergipe_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4, pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a bigint, id_b bigint")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_dedup_clusters_summary(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (100, 101)], "id_a bigint, id_b bigint")
    got = {r.component: (r.n_members, r.max_member)
           for r in dedup_clusters(pairs).collect()}
    assert got == {5: (3, 9), 100: (2, 101)}


def test_components_converge_on_long_chain(spark):
    # 30-node chain needs ~log-diameter rounds under min-propagation;
    # ensure max_iter headroom is enough and the result is exact
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches lineage truncation to reliable
    checkpoint(): same exact result, checkpoint files actually land in
    the directory (cluster-durable — survives executor loss, unlike
    localCheckpoint's executor-local blocks), and the returned frame's
    lineage is truncated to a checkpoint scan (no iterative join stack).
    """
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint")
    out = connected_components(pairs, checkpoint_dir=ckpt)
    got = {r.node: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # reliable checkpoint blocks were written under the dir
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs]
    assert files, "no reliable checkpoint files written"
    # lineage is truncated: the debug string bottoms out at a
    # ReliableCheckpointRDD scan, not the per-iteration join stack
    assert "ReliableCheckpointRDD" in out.rdd.toDebugString().decode()


def test_components_log_diameter_convergence(spark):
    # The sharp form of the O(log diameter) claim: a diameter-256 chain
    # must converge within 8 rounds (label reach doubles per round via
    # path halving). Plain min-propagation would need 256 rounds, so
    # this fails loudly if the pointer-jumping step ever regresses.
    # Default max_iter=20 therefore covers diameters up to ~2^20.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(256)], "id_a bigint, id_b bigint")
    got = {r.node: r.component
           for r in connected_components(pairs, max_iter=8).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 257


def test_incremental_components_equals_full_recompute(spark):
    """Contraction update == full recompute over the union graph, on a
    graph engineered to hit every case: two old components merged by a
    new edge, a new node absorbed into an old component, a new-only
    component, an untouched old component, and an intra-component new
    edge (contracts to a self-loop)."""
    from etl_transparencia_sergipe_spark.operators.components import (
        incremental_components,
    )

    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)],
        "id_a bigint, id_b bigint")
    new_pairs = spark.createDataFrame(
        [
            (3, 10),    # merges old components 1 and 10
            (21, 40),   # new node 40 absorbed into old component 20
            (50, 51),   # brand-new component
            (30, 31),   # duplicate of a stored edge: self-loop, no-op
        ],
        "id_a bigint, id_b bigint")
    stored = connected_components(old_pairs)
    got = {r.node: r.component
           for r in incremental_components(stored, new_pairs).collect()}
    want = {r.node: r.component
            for r in connected_components(
                old_pairs.unionByName(new_pairs)).collect()}
    assert got == want
    assert got[40] == 20 and got[10] == 1 and got[50] == 50
    assert got[30] == 30  # untouched component label survived


def test_incremental_components_deep_merge_chain(spark):
    """A new batch that chains MANY stored components together: the
    contracted graph is itself a long chain, so the inner label
    propagation must converge over it (log-diameter rounds)."""
    from etl_transparencia_sergipe_spark.operators.components import (
        incremental_components,
    )

    # 40 disjoint stored pairs (2i, 2i+1), i in 0..39
    old_pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(40)],
        "id_a bigint, id_b bigint")
    # new edges daisy-chain all 40 components: (1,2), (3,4), ...
    new_pairs = spark.createDataFrame(
        [(2 * i + 1, 2 * i + 2) for i in range(39)],
        "id_a bigint, id_b bigint")
    stored = connected_components(old_pairs)
    got = {r.node: r.component
           for r in incremental_components(stored, new_pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 80


def _uf_min_labels(edges, nodes):
    """Independent oracle: union-find, component = min member id."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_incremental_components_property(spark):
    """Round-5 VERDICT item 8: property-test the contraction update.
    Hypothesis generates random (old edges, new batch) splits; each
    example packs ~30 cases into DISJOINT node-id ranges and runs
    incremental_components ONCE over their union (disjoint graphs
    cannot interact, so one Spark run verifies all 30 independently
    — 8 examples x 30 graphs = 240 generated cases per run). Expected
    labels come from an INDEPENDENT union-find oracle, not from
    connected_components, so the equivalence claim
    incremental(labels(old), new) == components(old UNION new) is
    checked against third-party ground truth."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_transparencia_sergipe_spark.operators.components import (
        incremental_components,
    )

    case = st.tuples(
        st.integers(2, 10),                      # nodes in the old graph
        st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                 max_size=12),                   # old edges (mod n_old)
        st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)),
                 min_size=1, max_size=8),        # new edges (may add nodes)
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(case, min_size=30, max_size=30))
    def run(cases):
        old_edges, new_edges, old_nodes, all_nodes = [], [], set(), set()
        for ci, (n_old, oe, ne) in enumerate(cases):
            base = ci * 1000
            for a, b in oe:
                a, b = base + a % n_old, base + b % n_old
                if a != b:
                    old_edges.append((min(a, b), max(a, b)))
                    old_nodes.update((a, b))
            for a, b in ne:
                a, b = base + a, base + b
                if a != b:
                    new_edges.append((min(a, b), max(a, b)))
                    all_nodes.update((a, b))
        all_nodes |= old_nodes
        if not new_edges:
            return
        # stored labels: independent union-find over the old graph
        stored_labels = _uf_min_labels(old_edges, old_nodes)
        stored = spark.createDataFrame(
            sorted(stored_labels.items()), "node bigint, component bigint")
        new_df = spark.createDataFrame(new_edges or [(0, 0)],
                                       "id_a bigint, id_b bigint")
        got = {r.node: r.component
               for r in incremental_components(stored, new_df).collect()}
        want = _uf_min_labels(old_edges + new_edges, all_nodes)
        assert got == want

    run()


def test_components_release_superseded_checkpoints(spark):
    """Each pointer-jumping round frees the PREVIOUS round's
    localCheckpoint blocks as soon as its own materializes: after a
    multi-round run completes and the result is consumed, the session
    holds at most the FINAL round's checkpoint (plus nothing from the
    edges cache, unpersisted at exit) — not one block set per round.
    Guards the bench-drift mechanism measured at sf0.1: q39 ran cold in
    17.4 s right after q31+q38 against 6.0 s in a fresh session, because
    every earlier round's checkpoint blocks were still held."""
    from etl_transparencia_sergipe_spark.caching import release_all
    from etl_transparencia_sergipe_spark.operators.components import (
        _persistent_rdd_ids,
    )

    release_all(spark)
    base = _persistent_rdd_ids(spark)
    # 120-node chain: several pointer-jumping rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint")
    got = connected_components(pairs)
    assert got.filter("component != 0").count() == 0
    leftover = _persistent_rdd_ids(spark) - base
    # final checkpoint only (edges cache is unpersisted non-blocking,
    # so allow it to still be registered); NEVER one per round
    assert len(leftover) <= 2, leftover
    release_all(spark)
    assert len(_persistent_rdd_ids(spark) - base) == 0


def test_components_edge_cache_survives_rounds(spark, monkeypatch):
    """The edges cache must NOT land in the per-round eviction sets
    (round-9 ADVICE): the eager initial-labels checkpoint used to
    materialize the edge-cache buffer RDD inside the first tracked-id
    window, so round 1's `round_ids - created` unpersisted it and every
    later round silently recomputed the union+distinct edge shuffle.
    Each truncate registers exactly ONE checkpoint id, so with the fix
    every eviction call frees at most one id; the bug shows up as a
    2-id first call (edge cache + superseded initial checkpoint)."""
    from etl_transparencia_sergipe_spark.caching import release_all
    from etl_transparencia_sergipe_spark.operators import components as C

    release_all(spark)
    calls: list[set[int]] = []
    real = C._unpersist_rdd_ids

    def spy(sess, ids):
        calls.append(set(ids))
        real(sess, ids)

    monkeypatch.setattr(C, "_unpersist_rdd_ids", spy)
    # 120-node chain: several pointer-jumping rounds, so several
    # superseded-checkpoint evictions happen mid-run
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint")
    got = C.connected_components(pairs)
    assert got.filter("component != 0").count() == 0
    assert len(calls) >= 2, "expected a multi-round run"
    for ids in calls:
        assert len(ids) <= 1, (
            f"eviction set {ids} holds more than the one superseded "
            "checkpoint — the edges cache leaked into the tracked-id "
            "window")
    release_all(spark)


@pytest.fixture(scope="module")
def small_file_pairs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cc_pairs"))
    spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint") \
        .write.mode("overwrite").parquet(path)
    return path


@pytest.mark.parametrize("value, forced", [
    (None, False), ("", False), ("0", False), ("false", False),
    ("False", False), ("no", False), ("off", False),
    ("1", True), ("true", True), ("TRUE", True), ("yes", True),
])
def test_force_scale_env(spark, small_file_pairs, monkeypatch, value,
                         forced):
    """Only an explicit 1/true/yes/on in SPARK_GRAFT_CC_FORCE_SCALE forces
    the at-scale regime: on a small file-backed graph the size gate alone
    keeps the broadcast regime, so ``=0``/``=false``/empty must too."""
    from etl_transparencia_sergipe_spark.operators import components as C

    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CC_FORCE_SCALE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CC_FORCE_SCALE", value)
    seen = []

    def loop(spark, edges, truncate, local, n_part, max_iter, at_scale):
        seen.append(at_scale)
        edges.unpersist()

    monkeypatch.setattr(C, "_cc_loop", loop)
    C.connected_components(spark.read.parquet(small_file_pairs))
    assert seen == [forced]
