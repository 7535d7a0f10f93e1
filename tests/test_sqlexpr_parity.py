"""Bit-exact parity of the single-parse SQL expression builders
(functions.sqlexpr + the converted clustering sites) against the PySpark
column-DSL trees they replaced.

The optimization round (OPTIMIZATION_r12.md) moved the driver-held vector
math — codebook distances, coarse-cell argmin, ADC sums — from py4j-built
column trees to SQL strings parsed JVM-side in one call (~250x less driver
plan-construction time).  Results must be IDENTICAL doubles: each test
rebuilds the ORIGINAL DSL tree inline and asserts value equality row by
row on the full sf0.001 fixture, so any drift in fold order, literal
precision, or cast placement fails loudly.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.functions import sqlexpr
from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
    _adc_expr,
    _assign,
    _cell_assign_expr,
    _coarse_centroids,
    distortion_frame,
    pq_encode_frame,
    pq_train_assign,
)
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

M, K, SUB_DIM, N_CELLS = 4, 4, 16, 8


def _dsl_sq_dist(vec, cent):
    return F.aggregate(
        F.zip_with(vec, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def quantizer(emb):
    base = emb.where(F.col("vec_id") % 10 != 0)
    _, cents = pq_train_assign(base, "embedding", "vec_id", M, K, SUB_DIM)
    cell_ids, cvecs = _coarse_centroids(
        base, N_CELLS, "embedding", "vec_id", M, SUB_DIM
    )
    return cents, cell_ids, cvecs


def test_dlit_round_trips(spark):
    vals = [0.0, -0.0, 1.5, -2.75, 1e-300, -1e300, 0.1, 1 / 3, 2**53 + 1.0]
    got = spark.sql(
        "SELECT " + ", ".join(f"{sqlexpr.dlit(v)} AS c{i}" for i, v in enumerate(vals))
    ).collect()[0]
    for i, v in enumerate(vals):
        assert got[f"c{i}"] == v and math.copysign(1, got[f"c{i}"]) == math.copysign(1, v)


def test_assign_matches_dsl(emb, quantizer):
    cents, _, _ = quantizer
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= M * SUB_DIM)
    )
    new = _assign(valid, cents[0], "embedding").select("vec_id", "__d", "__cid")
    c_lit = F.lit(cents[0]).cast("array<array<double>>")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    old = valid.withColumn(
        "__d", F.transform(c_lit, lambda c: _dsl_sq_dist(vec, c))
    ).withColumn(
        "__cid",
        (F.array_position(F.col("__d"), F.array_min("__d")) - 1).cast("int"),
    ).select("vec_id", "__d", "__cid")
    assert new.orderBy("vec_id").collect() == old.orderBy("vec_id").collect()


def _sub_slices(df):
    return df.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= M * SUB_DIM)
    ).select(
        "vec_id",
        *[
            F.slice(F.col("embedding"), s * SUB_DIM + 1, SUB_DIM).alias(f"__sub{s}")
            for s in range(M)
        ],
    )


def test_cell_assign_matches_dsl(emb, quantizer):
    _, cell_ids, cvecs = quantizer
    sliced = _sub_slices(emb)
    new = sliced.select(
        "vec_id", _cell_assign_expr(cell_ids, cvecs, M, SUB_DIM).alias("cell")
    )
    # original formulation: one fold forest per cell, summed left-to-right
    cell_dists = []
    for cv in cvecs:
        d = None
        for s in range(M):
            cslice = F.lit(cv[s * SUB_DIM:(s + 1) * SUB_DIM]).cast("array<double>")
            sub = F.transform(F.col(f"__sub{s}"), lambda x: x.cast("double"))
            ds = _dsl_sq_dist(sub, cslice)
            d = ds if d is None else d + ds
        cell_dists.append(d)
    darr = F.array(*cell_dists)
    cell_idx = F.array_position(darr, F.array_min(darr)) - 1
    old_cell = F.element_at(
        F.lit(cell_ids).cast("array<long>"), cell_idx.cast("int") + 1
    )
    old = sliced.select("vec_id", old_cell.alias("cell"))
    assert new.orderBy("vec_id").collect() == old.orderBy("vec_id").collect()


def test_cell_assign_spells_distance_tree_once(emb, quantizer):
    """The per-cell distance array is bound once and read twice by the
    argmin: each subspace column appears once in the analyzed projection
    (spelled inline for array_position AND array_min it appeared twice,
    doubling the tree Catalyst analyzes and every row evaluates)."""
    _, cell_ids, cvecs = quantizer
    df = _sub_slices(emb).select(
        _cell_assign_expr(cell_ids, cvecs, M, SUB_DIM).alias("cell")
    )
    projection = df._jdf.queryExecution().analyzed().projectList().toString()
    for s in range(M):
        assert projection.count(f"__sub{s}#") == 1, (s, projection)


def test_distortion_frame_matches_dsl(emb, quantizer):
    cents, cell_ids, cvecs = quantizer
    new = distortion_frame(
        emb, cents, cell_ids, cvecs, "embedding", "vec_id", M, SUB_DIM
    )
    sliced = _sub_slices(emb)
    valid = sliced
    for s in range(M):
        c_lit = F.lit(cents[s]).cast("array<array<double>>")
        vec = F.transform(F.col(f"__sub{s}"), lambda x: x.cast("double"))
        valid = valid.withColumn(
            f"__d{s}", F.transform(c_lit, lambda c: _dsl_sq_dist(vec, c))
        )
    dist = F.array_min(F.col("__d0"))
    for s in range(1, M):
        dist = dist + F.array_min(F.col(f"__d{s}"))
    q = F.floor(dist * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    old = valid.withColumn(
        "cell", _cell_assign_expr(cell_ids, cvecs, M, SUB_DIM)
    ).select("vec_id", "cell", q.alias("__q"))
    assert new.orderBy("vec_id").collect() == old.orderBy("vec_id").collect()


def test_encode_and_adc_match_dsl(emb, quantizer):
    cents, cell_ids, cvecs = quantizer
    codes = pq_encode_frame(
        emb, cents, cell_ids, cvecs, "embedding", "vec_id", M, SUB_DIM
    )
    luts = [[float(s * K + c) / 7.0 for c in range(K)] for s in range(M)]
    new = codes.select("vec_id", _adc_expr(luts, M).alias("adc"))
    adc = F.lit(0.0)
    for s in range(M):
        adc = adc + F.element_at(
            F.lit(luts[s]).cast("array<double>"), F.col(f"cid{s}") + 1
        )
    old = codes.select("vec_id", adc.alias("adc"))
    assert new.orderBy("vec_id").collect() == old.orderBy("vec_id").collect()


def test_dot_cosine_string_forms_match_dsl(emb):
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        _dot,
        cosine,
    )

    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select("vec_id", "embedding", F.reverse("embedding").alias("emb2"))
    new = valid.select(
        "vec_id",
        _dot("embedding", "emb2").alias("d"),
        cosine("embedding", "emb2").alias("c"),
    )
    a, b = F.col("embedding"), F.col("emb2")

    def dsl_dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    old = valid.select(
        "vec_id",
        dsl_dot(a, b).alias("d"),
        (dsl_dot(a, b) / (F.sqrt(dsl_dot(a, a)) * F.sqrt(dsl_dot(b, b)))).alias("c"),
    )
    assert new.orderBy("vec_id").collect() == old.orderBy("vec_id").collect()
