"""Scale-pattern proofs: bucketed co-located joins eliminate exchanges;
salted joins are row-identical to plain joins (SCALE_NOTES.md)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.operators.joins import salted_join
from cassandra_cql_streaming_db_migrator_spark.sinks.bucketing import (
    read_bucketed,
    write_bucketed,
)
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Joining two tables bucketed+sorted on the join key must not shuffle
    OR sort: the whole point of bucketing 100 TB at ingest."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        ["o_orderkey"],
        8,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # sorted-bucket scans advertise their ordering only behind this
        # flag since SPARK-28595 (needs the one-file-per-bucket layout
        # write_bucketed guarantees)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        joined = read_bucketed(spark, "t_orders_b").join(
            read_bucketed(spark, "t_lineitem_b"), on="o_orderkey"
        )
        plan = _plan_of(joined)
        assert not re.search(r"\n\(\d+\) Exchange", plan), plan
        assert "SortMergeJoin" in plan
        # sortBy metadata also removes the per-bucket sort
        assert not re.search(r"\n\(\d+\) Sort\b", plan), plan
        # and the result is the plain join's result
        plain = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert joined.count() == plain
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Row-identical results on a deliberately skewed input (one hot key
    holding most rows), and the join keys include the salt."""
    events = load_table(spark, sf_dir, "events")
    skewed = events.withColumn(
        "user_id", F.when(F.col("value") < 400, F.lit(7)).otherwise(F.col("user_id"))
    ).select("user_id", "event_id", "value")
    dim = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_user_events"))

    plain = skewed.join(dim, on="user_id")
    salted = salted_join(skewed, dim, ["user_id"], salt=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    assert "__salt" in _plan_of(salted)


def test_salted_left_join_keeps_unmatched(spark):
    from pyspark.sql import Row

    left = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")], "k long, v string"
    )
    right = spark.createDataFrame([Row(k=1, w="x")], "k long, w string")
    out = sorted(
        (r["k"], r["w"]) for r in salted_join(left, right, ["k"], salt=3, how="left").collect()
    )
    assert out == [(1, "x"), (2, None), (3, None)]


def test_dim_join_broadcasts_fact_never_shuffles(spark, sf_dir):
    """Plan-shape lock: the dimension-join chain broadcasts both dims and
    the only exchange left is the final aggregation's."""
    from cassandra_cql_streaming_db_migrator_spark.queries.relational import join_enrich

    plan = _plan_of(join_enrich(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) <= 1, plan


def test_anti_join_broadcasts_target_keys(spark, sf_dir):
    """IF-NOT-EXISTS anti-join: target PK set rides to every task instead
    of shuffling the source (IfNotExistFilter done right)."""
    from cassandra_cql_streaming_db_migrator_spark.queries.reference import (
        anti_join_if_not_exists,
    )

    plan = _plan_of(anti_join_if_not_exists(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert not re.search(r"\n\(\d+\) Exchange", plan), plan


def test_partitioned_sink_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet + a partition-column filter: the scan
    must show PartitionFilters and touch only the matching directory — at
    100 TB, partition pruning is the difference between scanning one day
    and scanning a decade."""
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, sf_dir, "events")
    events.write.partitionBy("event_type").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan_of(back)
    assert re.search(r"PartitionFilters: \[.*event_type.*\]", plan), plan
    assert back.count() == events.filter(F.col("event_type") == "click").count()
    # physically: only the click directory is listed once the filter prunes
    import glob
    assert glob.glob(f"{out}/event_type=click/*.parquet")


def test_partitioned_upsert_touches_only_affected_partitions(
    spark, tmp_path, monkeypatch
):
    """Copy-on-write merge scoped to the batch's partitions: untouched
    partition directories keep their files byte-for-byte.  The dynamic
    overwrite is a per-write option: the session conf stays static and is
    never written (tables run concurrently on one session)."""
    import glob
    import os

    from pyspark.sql import Row

    from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [Row(k=1, d="d1", v="old1"), Row(k=2, d="d2", v="old2"), Row(k=3, d="d3", v="old3")],
        "k long, d string, v string",
    )
    conf_writes = []
    monkeypatch.setattr(spark.conf, "set", lambda *a: conf_writes.append(a))
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    upsert_parquet_partitioned(base, path, ["k"], "d")

    untouched_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/d=d1/*.parquet")
    }
    assert untouched_before

    # batch updates k=2 (d2) and inserts k=9 (d2)
    batch = spark.createDataFrame(
        [Row(k=2, d="d2", v="new2"), Row(k=9, d="d2", v="new9")],
        "k long, d string, v string",
    )
    upsert_parquet_partitioned(batch, path, ["k"], "d")

    result = {r["k"]: (r["d"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert result == {
        1: ("d1", "old1"),
        2: ("d2", "new2"),
        3: ("d3", "old3"),
        9: ("d2", "new9"),
    }
    # d1 files untouched byte-for-byte (same files, same mtimes)
    untouched_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/d=d1/*.parquet")
    }
    assert untouched_after == untouched_before
    assert glob.glob(f"{path}/d=d3/*.parquet")
    assert conf_writes == []


# ---------------------------------------------------------------------------
# Iterative operators under skew: power-law graph with a hub node


def _power_law_edges(spark, n_nodes: int = 2000, hub_frac: int = 10):
    """Deterministic power-law-ish directed graph: every node i >= 2 emits
    one edge; every hub_frac-th node points at hub node 1 (so the hub holds
    ~10% of raw edges and a far larger share after symmetrization), the
    rest chain to i // 2 (tree backbone, diameter ~log2 n)."""
    rows = [
        Row(src=i, dst=1 if i % hub_frac == 0 else max(1, i // 2))
        for i in range(2, n_nodes + 1)
    ]
    return spark.createDataFrame(rows)


def test_pagerank_bit_stable_under_skewed_partitioning(spark):
    """The fixed-point contract, stress-tested: a hub node receiving ~10%
    of all messages must produce BIT-IDENTICAL ranks whether the edges
    arrive in 1 partition or 32 — integer arithmetic is associative, so
    partitioning (and therefore skew-induced ordering) cannot leak into
    the result."""
    from cassandra_cql_streaming_db_migrator_spark.operators.graph import (
        pagerank_fixed_point,
    )

    e = _power_law_edges(spark)
    # symmetrize like the production caller: every node gets in- and
    # out-edges, the pagerank_fixed_point precondition
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def run(df):
        got = pagerank_fixed_point(df, iterations=4).collect()
        return sorted((r.node, r.rank_fp) for r in got)

    r1 = run(und.repartition(1))
    r32 = run(und.repartition(32))
    assert r1 == r32
    # the hub actually dominates (skew is real, not accidental)
    top = max(r1, key=lambda t: t[1])
    assert top[0] == 1


def test_pagerank_plan_depth_bounded_across_iterations(spark):
    """Lineage discipline under iteration: the checkpoint-per-round loop
    must keep the FINAL plan's size and shuffle count constant as rounds
    grow — an unrolled plan would double per round and die at tens of
    rounds on a real cluster."""
    from cassandra_cql_streaming_db_migrator_spark.operators.graph import (
        pagerank_fixed_point,
    )

    e = _power_law_edges(spark, n_nodes=500)
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    plans = {}
    for its in (2, 8):
        plan = _plan_of(pagerank_fixed_point(und, iterations=its))
        plans[its] = plan
    for its, plan in plans.items():
        # the returned frame reads the round's checkpointed blocks: no
        # Exchange may survive into the final plan, however many rounds ran
        assert not re.search(r"\n\(\d+\) Exchange", plan), (its, plan)
    assert len(plans[8].splitlines()) == len(plans[2].splitlines())


def test_connected_components_skewed_hub_converges_bit_stable(spark):
    """Min-label propagation over a hub-star + chain graph: bounded round
    count (max_iter is a hard cap, so convergence within it IS the round
    -count assertion), bit-stable labels under 1 vs 32 partitions, and the
    hub component resolves to the minimum member id."""
    from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
        connected_components,
    )

    # hub star: ~200 spokes on node 1; plus disjoint 8-node chains whose
    # diameter (not the hub) drives the round count
    rows = [Row(a=1, b=i) for i in range(2, 200)]
    base = 10_000
    for c in range(20):
        start = base + 9 * c
        rows += [Row(a=start + j, b=start + j + 1) for j in range(8)]
    pairs = spark.createDataFrame(rows)

    def run(df):
        got = connected_components(df, "a", "b", max_iter=12).collect()
        return sorted((r.doc_id, r.component_id, r.comp_size) for r in got)

    r1 = run(pairs.repartition(1))
    r32 = run(pairs.repartition(32))
    assert r1 == r32
    by_comp = {}
    for node, comp, size in r1:
        by_comp.setdefault(comp, []).append((node, size))
    # hub component: all 199 star members labeled with min id 1
    assert len(by_comp[1]) == 199
    assert all(size == 199 for _, size in by_comp[1])
    # each chain is its own component of 9, labeled by its min node
    for c in range(20):
        start = base + 9 * c
        assert len(by_comp[start]) == 9


def test_triangle_orientation_bounds_hub_wedge_fanout(spark):
    """Compact-forward contract (VERDICT r03 ask #2): a MID-id power-law
    hub — the id-ordered wedge join's worst case, where the hub's in×out
    fan-out is (d/2)^2 — must contribute ZERO wedges once edges are
    degree-oriented (every hub edge points AT the hub, so the hub never
    appears as a wedge middle).  Also pins output equality with the
    brute-force census on the same graph."""
    from cassandra_cql_streaming_db_migrator_spark.operators.graph import (
        orient_by_degree,
        triangle_stats,
    )

    # 200-spoke star with the hub id in the MIDDLE of the spoke id range
    # (100 spokes below, 100 above), plus a few triangles off to the side
    hub = 1000
    spokes = [i for i in range(900, 1101) if i != hub]
    rows = [Row(u=min(s, hub), v=max(s, hub)) for s in spokes]
    rows += [Row(u=1, v=2), Row(u=1, v=3), Row(u=2, v=3),  # triangle
             Row(u=2, v=4), Row(u=3, v=4)]                 # second triangle
    edges = spark.createDataFrame(rows)

    degree = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )

    def wedge_count(directed, src, dst):
        # fan-out of the (a,b) ⋈ (b,c) leg = sum over middles of in*out
        out_deg = directed.groupBy(src).agg(F.count(F.lit(1)).alias("o"))
        in_deg = directed.groupBy(dst).agg(F.count(F.lit(1)).alias("i"))
        j = out_deg.join(
            in_deg, out_deg[src] == in_deg[dst]
        ).agg(F.sum(F.col("i") * F.col("o")).alias("w"))
        return j.collect()[0]["w"] or 0

    id_wedges = wedge_count(edges, "u", "v")
    deg_wedges = wedge_count(orient_by_degree(edges, degree), "s", "t")
    # id-order: hub alone contributes 100*100 = 10000 wedges
    assert id_wedges >= 10_000
    # degree-order: hub contributes none; only the two side triangles'
    # low-degree nodes produce a handful
    assert deg_wedges <= 10

    got = sorted(
        (r.node, r.degree, r.n_triangles)
        for r in triangle_stats(edges).collect()
    )
    want_tris = {1: 1, 2: 2, 3: 2, 4: 1}
    adj = {}
    for r in rows:
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    want = sorted(
        (n, len(nbrs), want_tris.get(n, 0)) for n, nbrs in adj.items()
    )
    assert got == want


class TestHotBlockPairKernels:
    """VERDICT r03 ask #6: the chunked pair kernels under a deliberately
    hot block (one bucket 60x the median size — the LSH-bucket / semdedup
    -cluster skew shape).  Two contracts: (a) _iter_pair_chunks never
    yields a chunk whose pair-expanded matrix exceeds the element budget,
    (b) a tiny budget (many chunks over the hot block) produces BIT-
    identical output to the default budget (one chunk) for both the
    ranked and the thresholded kernel."""

    def _skewed_embeddings(self, spark):
        import math

        # hot block 0: 120 rows; blocks 1..8: 2 rows each (median 2)
        rows = []
        vid = 0
        for blk, n in [(0, 120)] + [(b, 2) for b in range(1, 9)]:
            for i in range(n):
                vec = [
                    math.sin(0.7 * vid + 1.3 * d) for d in range(8)
                ]
                rows.append((vid, blk, vec))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )

    def test_chunk_generator_respects_budget(self):
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            _iter_pair_chunks,
        )

        n, dim, budget = 120, 8, 400  # 50 pairs/chunk over 7140 pairs
        seen = set()
        for i, j in _iter_pair_chunks(n, dim, budget):
            assert len(i) * dim <= budget  # peak pair-buffer bound
            assert (i < j).all()
            seen.update(zip(i.tolist(), j.tolist()))
        assert len(seen) == n * (n - 1) // 2  # complete, no dup pairs

    def test_hot_block_bit_identical_under_tiny_budget(self, spark):
        import cassandra_cql_streaming_db_migrator_spark.operators.similarity as sim

        df = self._skewed_embeddings(spark)
        ranked = lambda: sorted(
            map(tuple, sim.block_top_pairs(df, "label", k=5).collect())
        )
        thresh = lambda: sorted(
            map(
                tuple,
                sim.block_near_dup_pairs(df, "label", threshold=0.2).collect(),
            )
        )
        base_r, base_t = ranked(), thresh()
        assert len(base_t) > 100  # the hot block really is pair-dense
        saved = sim._PAIR_ELEM_BUDGET
        try:
            # 400 elements / 8 dims = 50 pairs per chunk -> the hot
            # block's 7140 pairs take ~143 chunks through the running
            # top-k merge / survivor accumulation
            sim._PAIR_ELEM_BUDGET = 400
            assert ranked() == base_r
            assert thresh() == base_t
        finally:
            sim._PAIR_ELEM_BUDGET = saved


def test_common_neighbor_links_known_graph_and_degree_cap(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.graph import (
        common_neighbor_links,
    )

    # path 1-2-3-4 + triangle (5,6,7) + hub 10 connected to 11,12,13
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7), (6, 7),
         (10, 11), (10, 12), (10, 13)],
        "u long, v long",
    )
    got = [
        (r["node_a"], r["node_b"], r["n_common"])
        for r in common_neighbor_links(edges, k=10).collect()
    ]
    # non-edges with shared neighbors: (1,3) via 2; (2,4) via 3; hub
    # spokes pair up via 10: (11,12),(11,13),(12,13); triangle edges all
    # exist -> excluded
    assert got == [
        (1, 3, 1), (2, 4, 1), (11, 12, 1), (11, 13, 1), (12, 13, 1)
    ]
    # max_degree=2 drops the hub middle: spoke pairs vanish, paths stay
    capped = [
        (r["node_a"], r["node_b"], r["n_common"])
        for r in common_neighbor_links(edges, k=10, max_degree=2).collect()
    ]
    assert capped == [(1, 3, 1), (2, 4, 1)]


def test_plan_audit_flags_partitionless_window(spark):
    """The detector class rfm_segments' round-4 bug belongs to (VERDICT r04
    ask #3): a partitionless ntile window must be machine-caught; the
    shipped distributed_ntile plan must pass."""
    from pyspark.sql import Window

    from cassandra_cql_streaming_db_migrator_spark.operators.windows import (
        distributed_ntile,
    )
    from tools.plan_audit import has_global_window

    df = spark.range(100).withColumn("v", F.col("id") % 7)
    bad = df.withColumn(
        "b", F.ntile(5).over(Window.orderBy(F.col("v"), F.col("id")))
    )
    assert has_global_window(
        bad._jdf.queryExecution().executedPlan().toString()
    )
    good = distributed_ntile(df, 5, [F.col("v").asc(), F.col("id").asc()])
    assert not has_global_window(
        good._jdf.queryExecution().executedPlan().toString()
    )
