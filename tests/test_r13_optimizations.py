"""Focused tests for the round-13 optimization internals.

Value parity of every touched QUERY is carried by the oracle gate
(tools/check_correctness.py); these pin the operator-level contracts the
optimizations rely on:

* jaccard_join's rewritten verify predicate ((t_den+t_num)*i >= t_num*s)
  admits exactly the definitional pairs, including threshold-boundary
  ones, and the conditional spread adds no rows and drops none.
* the session-clone helper isolates SQLConf from the parent session
  (the property maintenance_planner's concurrent drains depend on).
* table_location's memo survives the drop/recreate cycle the A/B-flip
  mirror performs (same warehouse path both generations).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_jaccard_join_matches_definition_at_boundaries(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
        jaccard_join,
    )

    # crafted sets with pairs exactly AT the 3/5 threshold (|∩|=3, |∪|=5
    # -> 0.6), just below, and just above — the algebra rewrite must not
    # move the boundary
    rows = [
        Row(sid=1, toks=["a", "b", "c", "d"]),
        Row(sid=2, toks=["a", "b", "c", "e"]),        # with 1: 3/5 == t
        Row(sid=3, toks=["a", "b", "c", "d"]),        # with 1: 4/4 > t
        Row(sid=4, toks=["a", "b", "x", "y"]),        # with 1: 2/6 < t
        Row(sid=5, toks=["a", "b", "c", "d", "e", "f"]),  # with 3: 4/6 == t
        Row(sid=6, toks=["q"]),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_union"], r["jac_fp"])
        for r in jaccard_join(df, "sid", "toks", 3, 5).collect()
    }
    want = {}
    by_id = {r.sid: set(r.toks) for r in rows}
    for a, b in combinations(sorted(by_id), 2):
        i = len(by_id[a] & by_id[b])
        u = len(by_id[a] | by_id[b])
        if 5 * i >= 3 * u:
            want[(a, b)] = (i, u, 1_000_000 * i // u)
    assert got == want
    # the boundary pairs are actually present (non-vacuous fixture)
    assert (1, 2) in want and (3, 5) in want and (1, 4) not in want


def test_session_clone_isolates_sqlconf(spark):
    from cassandra_cql_streaming_db_migrator_spark.session import leg_session

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    clone = leg_session(spark)
    assert clone.conf.get("spark.sql.shuffle.partitions") == prev
    clone.conf.set("spark.sql.shuffle.partitions", "3")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert clone.sparkContext is spark.sparkContext


def test_table_location_memo_survives_recreate(spark):
    from cassandra_cql_streaming_db_migrator_spark.sinks.bucketing import (
        table_location,
        write_bucketed,
    )

    name = "t_loc_memo_r13"
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    try:
        write_bucketed(df, name, ["k"], 4)
        loc1 = table_location(spark, name)
        # the flip cycle: drop + recreate must land on the same path,
        # keeping the memoized answer correct
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        write_bucketed(df, name, ["k"], 4)
        loc2 = table_location(spark, name)
        assert loc1 == loc2
        import os

        assert os.path.isdir(loc2)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
