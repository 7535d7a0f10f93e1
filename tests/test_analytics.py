"""Unit tests for the analytics operators: KMV sketch, SCD2 history,
fixed-point PageRank (queries/analytics.py pairs them with SQL oracles;
these tests check the operator-level contracts directly)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.functions.hashing import MINHASH_P
from cassandra_cql_streaming_db_migrator_spark.operators.graph import (
    PR_SCALE,
    pagerank_fixed_point,
)
from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
    KMV_A,
    KMV_B,
    kmv_distinct,
)
from cassandra_cql_streaming_db_migrator_spark.operators.temporal import build_scd2


# ---------------------------------------------------------------------------
# KMV


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [Row(g="a", k=i % 10) for i in range(100)]
    )
    out = kmv_distinct(df, "g", "k", k=64).collect()
    assert len(out) == 1
    assert out[0].exact_distinct == 10
    # fewer than k distinct keys -> the sketch saw them all, estimate exact
    assert out[0].est_distinct == 10.0


def test_kmv_estimate_above_k(spark):
    n = 5000
    df = spark.createDataFrame([Row(g="a", k=i) for i in range(n)])
    out = kmv_distinct(df, "g", "k", k=64).collect()[0]
    assert out.exact_distinct == n
    # KMV with k=64 has ~1/sqrt(62) ~= 13% std error; allow 4 sigma
    assert out.est_distinct == pytest.approx(n, rel=0.5)
    assert out.est_distinct != n  # genuinely estimated, not exact-counted


def test_kmv_partitioning_invariant(spark):
    df = spark.createDataFrame([Row(g=str(i % 3), k=i * 7 % 997) for i in range(3000)])
    a = {r.g: r.est_distinct for r in kmv_distinct(df, "g", "k").collect()}
    b = {
        r.g: r.est_distinct
        for r in kmv_distinct(df.repartition(7, "k"), "g", "k").collect()
    }
    assert a == b


def test_kmv_mergeability_property():
    """Union of k-min sets -> k-min of union: the sketch of a union equals
    the merge of the sketches (what makes per-partition rollup sound)."""
    k = 8
    keys_a = list(range(0, 500, 3))
    keys_b = list(range(1, 500, 7))
    h = lambda x: (KMV_A * x + KMV_B) % MINHASH_P
    mins = lambda ks: sorted({h(x) for x in ks})[:k]
    merged = sorted(set(mins(keys_a)) | set(mins(keys_b)))[:k]
    direct = mins(set(keys_a) | set(keys_b))
    assert merged == direct


def test_kmv_arbitrary_key_space_matches_oracle(spark):
    """The hash is total on int64 (narrowing pmod) and NULL keys are
    filtered, so batch Spark, the DuckDB oracle, and the streaming numpy
    twin agree on negative keys, keys >= 2^31, and NULLs — the round-2
    advisory's divergence classes."""
    import duckdb
    import numpy as np

    from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
        kmv_distinct_sql,
    )

    keys = (
        [int(i) for i in range(50)]
        + [-7 * i for i in range(1, 40)]
        + [(1 << 33) + 11 * i for i in range(40)]
        + [(1 << 62) + i for i in range(20)]
        + [None] * 5
    )
    rows = [Row(g="a" if i % 2 else "b", k=key) for i, key in enumerate(keys)]
    df = spark.createDataFrame(rows, "g string, k long")
    got = {
        r.g: (r.exact_distinct, r.est_distinct)
        for r in kmv_distinct(df, "g", "k", k=16).collect()
    }

    con = duckdb.connect()
    # NOT toPandas(): NULLs would coerce the int64 keys to float64 and
    # collapse the >= 2^53 block before DuckDB ever saw it
    con.execute("CREATE TABLE t (g VARCHAR, k BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(r.g, r.k) for r in rows]
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(kmv_distinct_sql("t", "g", "k", k=16)).fetchall()
    }
    assert got == want

    # streaming numpy twin of the hash on the same ugly keys
    arr = np.array([key for key in keys if key is not None], dtype=np.int64)
    np_h = ((arr % MINHASH_P) * KMV_A + KMV_B) % MINHASH_P
    spark_h = (
        spark.createDataFrame([(int(v),) for v in arr], "k long")
        .selectExpr(
            f"(pmod(k, {MINHASH_P}) * {KMV_A} + {KMV_B}) % {MINHASH_P} AS h"
        )
        .collect()
    )
    assert [r.h for r in spark_h] == [int(x) for x in np_h]


# ---------------------------------------------------------------------------
# SCD2


def test_scd2_runs_and_intervals(spark):
    rows = [
        # user 1: A A B A -> three intervals
        Row(uid=1, ts=1, attr="A", eid=1),
        Row(uid=1, ts=2, attr="A", eid=2),
        Row(uid=1, ts=3, attr="B", eid=3),
        Row(uid=1, ts=4, attr="A", eid=4),
        # user 2: single run
        Row(uid=2, ts=1, attr="X", eid=5),
        Row(uid=2, ts=9, attr="X", eid=6),
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r.uid, r.valid_from): r
        for r in build_scd2(df, "uid", "ts", "attr", "eid").collect()
    }
    assert len(out) == 4
    r1 = out[(1, 1)]
    assert (r1.attr, r1.valid_to, r1.n_events, r1.is_current) == ("A", 3, 2, False)
    r2 = out[(1, 3)]
    assert (r2.attr, r2.valid_to, r2.is_current) == ("B", 4, False)
    r3 = out[(1, 4)]
    assert (r3.attr, r3.valid_to, r3.is_current) == ("A", None, True)
    r4 = out[(2, 1)]
    assert (r4.n_events, r4.is_current) == (2, True)


def test_scd2_equal_ts_tiebreak(spark):
    # same timestamp: the tiebreak column orders the runs deterministically
    rows = [
        Row(uid=1, ts=5, attr="B", eid=2),
        Row(uid=1, ts=5, attr="A", eid=1),
    ]
    out = sorted(
        build_scd2(spark.createDataFrame(rows), "uid", "ts", "attr", "eid").collect(),
        key=lambda r: not r.is_current,
    )
    # eid=1 (A) comes first, so B is the current interval
    assert out[0].attr == "B" and out[0].is_current
    assert out[1].attr == "A" and not out[1].is_current


def test_scd2_single_shuffle(spark, sf_dir):
    """The whole history build must reuse one hash partitioning on the key:
    exactly one (non-broadcast) exchange in the physical plan."""
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    plan = (
        build_scd2(events, "user_id", "ts", "event_type", "event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan


# ---------------------------------------------------------------------------
# PageRank


def _pr_dict(spark, edge_list, iterations=3):
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in edge_list])
    return {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(e, iterations=iterations).collect()
    }


def test_pagerank_symmetric_pair(spark):
    # two nodes, one symmetric edge: ranks stay equal at mass/2 (minus
    # floor-division dust), every iteration
    ranks = _pr_dict(spark, [(1, 2), (2, 1)])
    assert ranks[1] == ranks[2]
    assert ranks[1] == pytest.approx(PR_SCALE / 2, rel=1e-9)


def test_pagerank_hub_outranks_leaves(spark):
    # star graph (symmetrized): the hub collects mass from every leaf
    edges = []
    for leaf in range(2, 7):
        edges += [(1, leaf), (leaf, 1)]
    ranks = _pr_dict(spark, edges)
    assert all(ranks[1] > ranks[leaf] for leaf in range(2, 7))
    leaf_ranks = {ranks[leaf] for leaf in range(2, 7)}
    assert len(leaf_ranks) == 1  # symmetry preserved exactly


def test_pagerank_partitioning_invariant(spark):
    edges = [(i, (i * 3) % 11 + 100) for i in range(50)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in sym])
    a = {r.node: r.rank_fp for r in pagerank_fixed_point(e).collect()}
    b = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(e.repartition(13, "dst")).collect()
    }
    assert a == b  # exact integer arithmetic: bit-identical on any layout


def test_pagerank_rounds_add_few_jobs(spark):
    """The rounds unroll into one plan: going from 4 to 8 rounds adds about
    one Spark job per round (a checkpoint per round cost 6)."""
    edges = [(i, (i * 3) % 11 + 100) for i in range(50)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in sym])
    sc = spark.sparkContext
    jobs = {}
    for its in (4, 8):
        group = f"pagerank_rounds_{its}"
        sc.setJobGroup(group, group)
        try:
            pagerank_fixed_point(e, iterations=its).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[its] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[8] - jobs[4] <= 8, jobs


def test_pagerank_returns_only_nodes_with_out_edges(spark):
    # 3 has no out-edge: it receives rank mass but is not a ranked node
    ranks = _pr_dict(spark, [(1, 2), (2, 1), (2, 3)])
    assert set(ranks) == {1, 2}


def test_pagerank_mass_approximately_conserved(spark):
    ranks = _pr_dict(spark, [(1, 2), (2, 1), (2, 3), (3, 2)])
    total = sum(ranks.values())
    # floor division can only LOSE mass, and at most a few units per
    # node-round — never create it
    assert total <= PR_SCALE
    assert total == pytest.approx(PR_SCALE, rel=1e-6)


# ---------------------------------------------------------------------------
# Gap fill / LOCF


def test_gap_fill_locf_fills_and_flags(spark):
    from datetime import datetime

    from cassandra_cql_streaming_db_migrator_spark.operators.timeseries import (
        gap_fill_locf,
    )

    rows = [
        # key 1: observations in buckets 0 and 3 (1-hour step) -> 4 grid
        # rows, buckets 1-2 are LOCF-filled gaps
        Row(k=1, ts=datetime(2024, 1, 1, 0, 10), v=10.0, eid=1),
        Row(k=1, ts=datetime(2024, 1, 1, 0, 50), v=11.0, eid=2),
        Row(k=1, ts=datetime(2024, 1, 1, 3, 5), v=40.0, eid=3),
        # key 2: single bucket
        Row(k=2, ts=datetime(2024, 1, 1, 5, 0), v=7.0, eid=4),
    ]
    out = {
        (r.k, r.bucket_ts.hour): r
        for r in gap_fill_locf(
            spark.createDataFrame(rows), "k", "ts", "v", "eid", step_seconds=3600
        ).collect()
    }
    assert len(out) == 5
    # bucket 0: two observations, last by (ts, eid) wins
    assert (out[(1, 0)].value_locf, out[(1, 0)].n_obs, out[(1, 0)].is_gap) == (
        11.0, 2, False,
    )
    # buckets 1, 2: gaps carrying 11.0 forward
    for h in (1, 2):
        assert (out[(1, h)].value_locf, out[(1, h)].n_obs, out[(1, h)].is_gap) == (
            11.0, 0, True,
        )
    assert (out[(1, 3)].value_locf, out[(1, 3)].is_gap) == (40.0, False)
    assert (out[(2, 5)].value_locf, out[(2, 5)].is_gap) == (7.0, False)


def test_gap_fill_equal_ts_tiebreak(spark):
    from datetime import datetime

    from cassandra_cql_streaming_db_migrator_spark.operators.timeseries import (
        gap_fill_locf,
    )

    rows = [
        Row(k=1, ts=datetime(2024, 1, 1, 0, 0), v=1.0, eid=2),
        Row(k=1, ts=datetime(2024, 1, 1, 0, 0), v=2.0, eid=1),
    ]
    out = gap_fill_locf(
        spark.createDataFrame(rows), "k", "ts", "v", "eid", step_seconds=3600
    ).collect()
    assert len(out) == 1
    assert out[0].value_locf == 1.0  # eid=2 is the later observation


# ---------------------------------------------------------------------------
# Sampled quantiles


def test_sampled_quantiles_deterministic_and_close(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
        sampled_quantiles,
    )

    rows = [Row(g="a", v=float(i), i=i) for i in range(10_000)]
    df = spark.createDataFrame(rows)
    out = sampled_quantiles(df, "g", "v", "i", rate=0.2).collect()[0]
    # deterministic under repartitioning
    out2 = sampled_quantiles(df.repartition(17, "i"), "g", "v", "i", rate=0.2).collect()[0]
    assert out == out2
    # affine-hash sample of a uniform id space lands near the target rate
    assert out.n_sample == pytest.approx(2000, rel=0.1)
    # sampled p50 approximates exact p50 -- uniform values, ~2000 samples
    assert out.p5 == pytest.approx(4999.5, rel=0.05)
    assert out.p9 == pytest.approx(8999.1, rel=0.05)


# ---------------------------------------------------------------------------
# Bloom semi-join


def test_bloom_no_false_negatives_and_exact_result(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bloom import (
        bloom_semi_join,
        bloom_test,
        build_bloom,
    )

    fact = spark.createDataFrame([Row(k=i, v=i * 2) for i in range(5000)])
    dim = spark.createDataFrame([Row(dk=i) for i in range(0, 5000, 97)])
    got = sorted(
        r.k for r in bloom_semi_join(fact, dim, "k", "dk", m_bits=4096).collect()
    )
    assert got == list(range(0, 5000, 97))  # exactly the semi-join

    # every dim key passes the bloom (no false negatives, by construction)
    keys = list(range(0, 5000, 97))
    words = build_bloom(keys, 4096, 3)
    passed = fact.where(bloom_test(F.col("k"), words, 4096, 3)).count()
    assert passed >= len(keys)
    # and the bloom genuinely prunes (4096 bits, 52 keys -> low FP rate)
    assert passed < 500


def test_bloom_bit63_words_survive_sign_wrap(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bloom import (
        bloom_test,
        build_bloom,
    )

    # find keys whose probes hit bit 63 of some word -> negative literals
    m = 256
    keys = list(range(2000))
    words = build_bloom(keys, m, 3)
    assert any(w < 0 for w in words)  # the case under test is exercised
    df = spark.createDataFrame([Row(k=k) for k in keys])
    assert df.where(bloom_test(F.col("k"), words, m, 3)).count() == len(keys)


def test_bloom_distributed_build_matches_reference(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bloom import (
        build_bloom,
        build_bloom_distributed,
    )

    # large, ugly key set: negatives, bit-63-wrapping magnitudes, and
    # heavy duplication (the distributed build skips distinct on purpose)
    keys = (
        [i * 7919 for i in range(20_000)]
        + [-i * 104_729 for i in range(5_000)]
        + [(1 << 62) + i for i in range(100)]
    )
    df = spark.createDataFrame([Row(dk=k) for k in keys + keys[:1000]])
    ref = build_bloom(keys, 65_536, 3)  # reference dedups implicitly (OR)
    got = build_bloom_distributed(df, "dk", 65_536, 3)
    assert got == ref


def test_bloom_semi_join_large_dim_no_driver_key_collect(spark):
    import inspect

    from cassandra_cql_streaming_db_migrator_spark.operators import bloom

    # |dim| far beyond the old driver-collect comfort zone: result must
    # still be exactly the semi-join
    fact = spark.createDataFrame([Row(k=i, v=i) for i in range(0, 300_000, 3)])
    dim = spark.createDataFrame([Row(dk=i) for i in range(0, 300_000, 2)])
    got = bloom.bloom_semi_join(fact, dim, "k", "dk", m_bits=1 << 20)
    expected = fact.join(
        dim, fact["k"] == dim["dk"], "left_semi"
    )
    assert got.count() == expected.count() == 50_000

    # the production path must never serialize dim keys through the driver:
    # only build_bloom (the test-only reference) may take a key list
    src = inspect.getsource(bloom.build_bloom_distributed) + inspect.getsource(
        bloom.bloom_semi_join
    )
    assert ".collect()" not in src.replace(
        '.agg(F.bit_or("bit").alias("word"))\n        .collect()', ""
    ), "only the fixed-size word-array collect is allowed"


# ---------------------------------------------------------------------------
# Snapshot diff


def test_snapshot_diff_classification(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.diff import snapshot_diff

    src = spark.createDataFrame(
        [Row(pk=1, a="x", b=1.0), Row(pk=2, a="y", b=2.0), Row(pk=3, a="z", b=3.0),
         Row(pk=4, a=None, b=4.0)]
    )
    tgt = spark.createDataFrame(
        [
            Row(pk=1, a="x", b=1.0),        # identical -> dropped
            Row(pk=2, a="y2", b=2.5),       # update, both columns
            Row(pk=4, a="now-set", b=4.0),  # update: NULL -> value must show
            Row(pk=5, a="new", b=5.0),      # insert
        ]                                   # pk=3 -> delete
    )
    out = {r.pk: (r.change_type, list(r.changed_cols))
           for r in snapshot_diff(src, tgt, ["pk"]).collect()}
    assert out == {
        2: ("update", ["a", "b"]),
        3: ("delete", []),
        4: ("update", ["a"]),
        5: ("insert", []),
    }


def test_snapshot_diff_all_null_payload_rows(spark):
    # a row whose every compared column is NULL must still classify by
    # presence (the __in flags, not payload nullness)
    from cassandra_cql_streaming_db_migrator_spark.operators.diff import snapshot_diff

    src = spark.createDataFrame([(1, None)], "pk long, a string")
    tgt = spark.createDataFrame([(2, None)], "pk long, a string")
    out = {r.pk: r.change_type for r in snapshot_diff(src, tgt, ["pk"]).collect()}
    assert out == {1: "delete", 2: "insert"}


# ---------------------------------------------------------------------------
# K-means


def _km_fixture(spark):
    import random

    rng = random.Random(23)
    rows = []
    # two tight blobs around (±1, ±1, ...) in 8 dims
    for i in range(200):
        center = 1.0 if i % 2 == 0 else -1.0
        rows.append(
            Row(
                vec_id=i,
                embedding=[center + rng.uniform(-0.1, 0.1) for _ in range(8)],
            )
        )
    return spark.createDataFrame(rows)


def test_kmeans_partitioning_invariant(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
        kmeans_lloyd,
    )

    df = _km_fixture(spark)
    a = sorted(map(tuple, kmeans_lloyd(df, k=4, iterations=2).collect()))
    b = sorted(
        map(tuple, kmeans_lloyd(df.repartition(11, "vec_id"), k=4, iterations=2).collect())
    )
    assert a == b  # bit-identical across layouts


def test_kmeans_inertia_decreases_with_iterations(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
        kmeans_lloyd,
    )

    df = _km_fixture(spark)
    inertia = lambda it: sum(
        r.inertia for r in kmeans_lloyd(df, k=4, iterations=it).collect()
    )
    assert inertia(2) <= inertia(0) + 1e-9  # Lloyd monotonicity


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
        kmeans_lloyd,
    )

    # vec 0 and vec 1 identical -> with k=2, every vector ties to the
    # lower cluster id and cluster 1 is empty from round 1 on; the
    # operator must not crash and must report all mass in cluster 0
    rows = [Row(vec_id=i, embedding=[1.0, 2.0]) for i in range(10)]
    out = {r.cluster_id: r.n_vecs for r in kmeans_lloyd(
        spark.createDataFrame(rows), k=2, iterations=2).collect()}
    assert out == {0: 10}


# ---------------------------------------------------------------------------
# Inverted index


def test_inverted_index_postings_capped_stats_uncapped(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
        build_inverted_index,
    )

    rows = [
        Row(doc_id=1, text="x x x common"),
        Row(doc_id=2, text="x x common"),
        Row(doc_id=3, text="x common"),
        Row(doc_id=4, text="rare"),
    ]
    out = {
        r.term: r
        for r in build_inverted_index(
            spark.createDataFrame(rows), min_df=1, max_postings=2
        ).collect()
    }
    x = out["x"]
    # stats cover ALL docs even though postings are capped at 2
    assert (x.doc_freq, x.total_tf) == (3, 6)
    # rank by tf desc, doc asc
    assert x.postings == "1:3,2:2"
    assert out["common"].postings == "1:1,2:1"
    assert out["rare"].doc_freq == 1


def test_inverted_index_min_df_filters(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
        build_inverted_index,
    )

    rows = [Row(doc_id=1, text="a b"), Row(doc_id=2, text="a")]
    terms = {
        r.term
        for r in build_inverted_index(
            spark.createDataFrame(rows), min_df=2
        ).collect()
    }
    assert terms == {"a"}


# ---------------------------------------------------------------------------
# Review regressions (round-2 self-review findings)


def test_scd2_null_attribute_transitions(spark):
    """value->NULL starts a new run (a NULLed-out attribute is drift, not
    a continuation), NULL->NULL does not, NULL->value closes the NULL run."""
    rows = [(1, 1, "A", 1), (1, 2, None, 2), (1, 3, None, 3), (1, 4, "A", 4)]
    df = spark.createDataFrame(rows, "uid long, ts long, attr string, eid long")
    out = sorted(
        build_scd2(df, "uid", "ts", "attr", "eid").collect(),
        key=lambda r: r.valid_from,
    )
    assert [(r.attr, r.valid_from, r.valid_to, r.n_events) for r in out] == [
        ("A", 1, 2, 1),
        (None, 2, 4, 2),
        ("A", 4, None, 1),
    ]


def test_bloom_negative_and_wrapping_keys(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bloom import (
        bloom_test,
        build_bloom,
    )

    # negative keys and keys whose a*key product wraps int64
    keys = [-5, -1, 0, 7, 2**33 + 11, 2**62 // 1103515245 + 99]
    words = build_bloom(keys, 4096, 3)
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    # no false negatives even where products wrap / dividends go negative
    assert df.where(bloom_test(F.col("k"), words, 4096, 3)).count() == len(keys)


def test_bloom_null_dim_keys_skipped(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bloom import (
        bloom_semi_join,
    )

    fact = spark.createDataFrame([(1,), (2,)], "k long")
    dim = spark.createDataFrame([(1,), (None,)], "dk long")
    got = [r.k for r in bloom_semi_join(fact, dim, "k", "dk", m_bits=256).collect()]
    assert got == [1]


def test_kmeans_non_dense_ids(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
        kmeans_lloyd,
    )

    # ids start at 1000 and one low-id vector is invalid: seeding must
    # take the first k VALID vectors by id, clusters labeled 0..k-1
    rows = [Row(vec_id=1000, embedding=None)] + [
        Row(vec_id=1001 + i, embedding=[float(i % 2), 1.0]) for i in range(20)
    ]
    out = {r.cluster_id for r in kmeans_lloyd(
        spark.createDataFrame(rows), k=2, iterations=1).collect()}
    assert out == {0, 1}


# ---------------------------------------------------------------------------
# Round-3 additions: OHLC downsample, winsorized stats, bigram census


def test_ohlc_single_event_and_tie_semantics(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.timeseries import (
        ohlc_downsample,
    )

    rows = [
        # bucket 0 of key 'a': ties on ts -> event_id breaks open/close
        Row(k="a", ts="2024-01-01 00:00:05", v=10.0, eid=2),
        Row(k="a", ts="2024-01-01 00:00:05", v=20.0, eid=1),
        Row(k="a", ts="2024-01-01 00:30:00", v=5.0, eid=3),
        # bucket 1 of key 'a': single event -> open=high=low=close
        Row(k="a", ts="2024-01-01 06:10:00", v=7.5, eid=4),
    ]
    df = spark.createDataFrame(rows).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v", "eid"
    )
    got = {
        r.bucket_id: r
        for r in ohlc_downsample(df, "k", "ts", "v", "eid").collect()
    }
    b0 = got[min(got)]
    assert (b0.open, b0.close, b0.high, b0.low, b0.n_events) == (20.0, 5.0, 20.0, 5.0, 3)
    b1 = got[max(got)]
    assert (b1.open, b1.close, b1.high, b1.low, b1.n_events) == (7.5, 7.5, 7.5, 7.5, 1)


def test_winsorized_stats_clips_and_counts(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
        winsorized_stats,
    )

    # rate=1.0 -> the "sample" is the full group, so p01/p99 are exact and
    # the clip counts are checkable by hand: 1000 uniform values + outliers
    rows = [Row(g="a", v=float(i), i=i) for i in range(1000)]
    rows += [Row(g="a", v=1e9, i=2001), Row(g="a", v=-1e9, i=2002)]
    df = spark.createDataFrame(rows)
    out = winsorized_stats(df, "g", "v", "i", rate=1.0).collect()[0]
    assert out.n == 1002
    assert out.n_clipped_low >= 1   # the -1e9 outlier
    assert out.n_clipped_high >= 1  # the +1e9 outlier
    # the clipped sum is near the un-outliered sum, nowhere near 1e9
    assert abs(out.winsorized_sum - sum(range(1000))) < 0.05 * sum(range(1000))


def test_word_bigram_topk_counts_and_edges(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
        word_bigram_topk,
    )

    df = spark.createDataFrame(
        [
            Row(text="a b a b a"),   # bigrams: 'a b' x2, 'b a' x2
            Row(text="single"),      # 1 word -> no bigrams
            Row(text="a b"),         # 'a b' x1
        ]
    )
    got = {r.bigram: r.n for r in word_bigram_topk(df, "text", k=10).collect()}
    assert got == {"a b": 3, "b a": 2}


def test_timestamp_oracles_are_host_timezone_independent(spark, sf_dir):
    """Oracles that rebuild timestamps from epoch arithmetic must use
    make_timestamp (naive), never CAST(to_timestamp(..) AS TIMESTAMP):
    to_timestamp returns TIMESTAMPTZ and the cast applies the DuckDB
    session TimeZone, which defaults to the HOST zone on the driver.
    Run each such oracle under two zones and require identical rows."""
    import duckdb

    from cassandra_cql_streaming_db_migrator_spark.queries import all_queries
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import TABLES

    qs = all_queries()
    targets = ["stream_ohlc", "time_gap_fill", "retention_cohorts"]
    for name in targets:
        results = []
        for tz in ("UTC", "America/New_York"):
            con = duckdb.connect()
            con.execute(f"SET TimeZone='{tz}'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            results.append(sorted(map(tuple, con.execute(qs[name].oracle).fetchall())))
            con.close()
        assert results[0] == results[1], f"{name} oracle is timezone-dependent"

    # and no registry oracle uses the TZ-dependent cast pattern at all
    offenders = [
        n for n, q in qs.items() if q.oracle and "to_timestamp" in q.oracle
    ]
    assert not offenders, f"TZ-dependent to_timestamp in oracles: {offenders}"


def test_ohlc_pre_epoch_timestamps_order_correctly(spark):
    """The biased ord_key must keep numeric order for pre-1970 event
    times: the earliest event is 'open' even when epoch micros are
    negative (an unbiased '%020d' renders -2 after -1 and swaps
    open/close)."""
    import duckdb

    from cassandra_cql_streaming_db_migrator_spark.operators.timeseries import (
        ohlc_downsample,
        ohlc_downsample_sql,
    )

    rows = [
        Row(k="a", ts="1969-12-31 23:59:58", v=1.0, eid=1),
        Row(k="a", ts="1969-12-31 23:59:59", v=2.0, eid=2),
        Row(k="a", ts="1969-12-31 23:59:59", v=3.0, eid=3),
    ]
    df = spark.createDataFrame(rows).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v", "eid"
    )
    got = ohlc_downsample(df, "k", "ts", "v", "eid").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.open, r.close, r.high, r.low) == (1.0, 3.0, 3.0, 1.0)

    # and the oracle agrees bit-for-bit on the same pre-epoch rows
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, ts TIMESTAMP, v DOUBLE, eid BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?)",
        [(row.k, row.ts, row.v, row.eid) for row in rows],
    )
    want = con.execute(ohlc_downsample_sql("t", "k", "ts", "v", "eid")).fetchall()
    assert len(want) == 1
    assert (want[0][3], want[0][6], want[0][4], want[0][5]) == (1.0, 3.0, 3.0, 1.0)


def test_winsorized_stats_excludes_null_values(spark):
    """NULL values must be excluded, not coerced to the lower clip bound
    (greatest/least skip NULLs on both engines)."""
    from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
        winsorized_stats,
    )

    rows = [Row(g="a", v=float(i), i=i) for i in range(100)]
    rows += [Row(g="a", v=None, i=1000 + j) for j in range(50)]
    df = spark.createDataFrame(rows, "g string, v double, i long")
    out = winsorized_stats(df, "g", "v", "i", rate=1.0).collect()[0]
    assert out.n == 100  # NULL rows are not counted, not p01-coerced
    assert out.winsorized_sum < sum(range(100)) + 1


class TestLexicalTopk:
    def test_ranking_matches_integer_reference(self, spark):
        """Known corpus, hand-computed log-free scores: rarity weighting
        orders a rare term above a common one; tf saturates (+2); ties
        break on doc id; docs with no query terms are absent."""
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            lexical_topk,
        )

        docs = spark.createDataFrame(
            [
                (1, "rare common filler one"),
                (2, "common filler two words"),
                (3, "common common common filler"),
                (4, "nothing relevant here"),
            ],
            "doc_id long, text string",
        )
        got = [
            (r["doc_id"], r["score_ppm"], r["n_terms_hit"])
            for r in lexical_topk(docs, ["rare", "common"], k=10).collect()
        ]
        # N=4; df(rare)=1, df(common)=3
        def score(tf, df, n=4):
            return 1_000_000 * tf * (n - df) // (n * (tf + 2))

        want = {
            1: (score(1, 1) + score(1, 3), 2),
            2: (score(1, 3), 1),
            3: (score(3, 3), 1),
        }
        ranked = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))
        assert got == [(d, s, h) for d, (s, h) in ranked]
        # saturation: three 'common' occurrences score less than 3x one
        assert score(3, 3) < 3 * score(1, 3)

    def test_no_matching_terms_and_empty_corpus(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            lexical_topk,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
        )
        out = lexical_topk(docs, ["absent", "missing"], k=5)
        assert out.count() == 0
        assert out.columns == ["doc_id", "score_ppm", "n_terms_hit"]


class TestAssociationRules:
    def test_known_baskets(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.events import (
            association_rules,
        )

        # baskets: {x,y} x3, {x,z} x1, {y} x1  -> n_baskets=5
        rows = []
        for u, items in enumerate([["x", "y"], ["x", "y"], ["x", "y"],
                                   ["x", "z"], ["y"]]):
            rows += [(u, it) for it in items]
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        got = {
            (r["antecedent"], r["consequent"]): (
                r["n_both"], r["confidence_ppm"], r["lift_ppm"]
            )
            for r in association_rules(df, min_both=2, k=10).collect()
        }
        # reach: x=4, y=4; x&y=3; lift = 1e6*3*5 // (4*4) = 937500
        assert got == {
            ("x", "y"): (3, 1_000_000 * 3 // 4, 937_500),
            ("y", "x"): (3, 1_000_000 * 3 // 4, 937_500),
        }


# ---------------------------------------------------------------------------
# Distributed ntile (VERDICT r04 #2: the rfm_segments scale swap)


class TestDistributedNtile:
    def test_matches_window_ntile(self, spark):
        """distributed_ntile == ntile(n).over(Window.orderBy(...)) for a
        total order, across remainder shapes (n_rows % n_buckets 0..4)."""
        from pyspark.sql import Window

        from cassandra_cql_streaming_db_migrator_spark.operators.windows import (
            distributed_ntile,
        )

        for n_rows in (3, 10, 11, 12, 13, 14, 257):
            df = spark.createDataFrame(
                [(i, (i * 7919) % 101) for i in range(n_rows)],
                "id long, v long",
            )
            order = [F.col("v").asc(), F.col("id").asc()]
            want = {
                (r["id"]): r["b"]
                for r in df.withColumn(
                    "b",
                    F.ntile(5).over(Window.orderBy(*order)).cast("long"),
                ).collect()
            }
            got = {
                (r["id"]): r["__bucket"]
                for r in distributed_ntile(df, 5, order).collect()
            }
            assert got == want, f"n_rows={n_rows}"

    def test_no_partitionless_window_in_plan(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.windows import (
            distributed_ntile,
        )

        df = spark.range(100).withColumn("v", (F.col("id") * 13) % 7)
        plan = distributed_ntile(
            df, 5, [F.col("v").asc(), F.col("id").asc()]
        )._jdf.queryExecution().executedPlan().toString()
        # every WindowExec must carry a partition spec (no global sort)
        for line in plan.splitlines():
            if "Window " in line or line.strip().startswith("Window"):
                assert "__pid" in line, f"partitionless window: {line}"

    def test_rfm_distributed_matches_ntile(self, spark, sf_dir):
        """Parity pin: the shipped cut-point/rank rfm scoring reproduces
        the ntile-window scoring row-for-row on the fixtures."""
        from pyspark.sql import Window

        from cassandra_cql_streaming_db_migrator_spark.queries.analytics import (
            rfm_per_customer,
            rfm_segments,
        )

        per_cust = rfm_per_customer(spark, sf_dir)
        r = F.ntile(5).over(
            Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey"))
        )
        f_ = F.ntile(5).over(
            Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
        )
        m = F.ntile(5).over(
            Window.orderBy(F.col("monetary_cents").desc(), F.col("o_custkey"))
        )
        want = sorted(
            (
                per_cust.select(
                    (6 - r).cast("long").alias("r_score"),
                    (6 - f_).cast("long").alias("f_score"),
                    (6 - m).cast("long").alias("m_score"),
                    "monetary_cents",
                )
                .groupBy("r_score", "f_score", "m_score")
                .agg(
                    F.count(F.lit(1)).alias("n_customers"),
                    F.sum(F.col("monetary_cents").cast("decimal(38,0)"))
                    .cast("long")
                    .alias("segment_cents"),
                )
            ).collect()
        )
        got = sorted(rfm_segments(spark, sf_dir).collect())
        assert got == want
