"""One Spark action per migrated table: the parquet schema memo
(``sources.parquet.read_parquet``), rows_failed as an observation, and the
merge sinks' write-then-swap."""

from __future__ import annotations

import glob
import hashlib
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.pipeline import run_pipeline
from cassandra_cql_streaming_db_migrator_spark.plans.spec import (
    FilterDef,
    PipelineSpec,
    TableMigration,
)
from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import (
    counter_merge_parquet,
    upsert_parquet,
    write_table,
)
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
    NANOS_AS_LONG,
    read_parquet,
)


def _jobs_run(spark, fn):
    """Number of Spark jobs ``fn`` starts, and its result."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            full = os.path.join(root, fn)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _leftovers(target: str) -> list[str]:
    return glob.glob(target + ".__tmp-*") + glob.glob(target + ".__old-*")


class TestSchemaMemo:
    def test_unchanged_files_skip_inference(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        spark.range(10).withColumn("v", F.col("id") * 2).write.parquet(path)
        _, first = _jobs_run(spark, lambda: read_parquet(spark, path))
        jobs, again = _jobs_run(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        assert again.schema == first.schema == spark.read.parquet(path).schema
        assert again.count() == 10

    def test_rewrite_at_same_path_is_read_with_new_schema(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        spark.range(5).selectExpr("id AS k", "CAST(id AS INT) AS v").write.parquet(path)
        assert dict(read_parquet(spark, path).dtypes)["v"] == "int"

        spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.mode(
            "overwrite"
        ).parquet(path)
        assert dict(read_parquet(spark, path).dtypes)["v"] == "string"

        spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v", "id * 3 AS w").write.mode(
            "overwrite"
        ).parquet(path)
        back = read_parquet(spark, path)
        assert back.columns == ["k", "v", "w"]
        assert back.agg(F.sum("w")).first()[0] == 30

    def test_type_mapping_conf_change_reinfers(self, spark, tmp_path):
        path = str(tmp_path / "ns.parquet")
        pq.write_table(
            pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns")), "k": [1]}), path
        )
        prev = spark.conf.get(NANOS_AS_LONG, None)
        try:
            spark.conf.set(NANOS_AS_LONG, "true")
            assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
            spark.conf.set(NANOS_AS_LONG, "false")
            # a remembered bigint schema would hide what Spark now says
            with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                read_parquet(spark, path)
        finally:
            if prev is None:
                spark.conf.unset(NANOS_AS_LONG)
            else:
                spark.conf.set(NANOS_AS_LONG, prev)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


class TestWriteThenSwap:
    def test_upsert_merges_and_leaves_no_siblings(self, spark, tmp_path):
        target = str(tmp_path / "t.parquet")
        _kv(spark, [(1, "a"), (2, "b")]).write.parquet(target)
        upsert_parquet(_kv(spark, [(2, "B"), (3, "c")]), target, ["k"])
        got = {r.k: r.v for r in spark.read.parquet(target).collect()}
        assert got == {1: "a", 2: "B", 3: "c"}
        assert _leftovers(target) == []

    @pytest.mark.parametrize("sink", ["upsert", "counter"])
    def test_failed_merge_write_keeps_previous_target(self, spark, tmp_path, sink):
        target = str(tmp_path / f"{sink}.parquet")
        spark.createDataFrame([(1, 10), (2, 20)], "k long, c long").write.parquet(target)
        before = _tree_digest(target)

        @F.udf("long")
        def boom(k):
            if k == 3:
                raise ValueError("row 3 cannot be written")
            return k

        batch = spark.createDataFrame([(2, 5), (3, 7)], "k long, c long").withColumn(
            "k", boom("k")
        )
        with pytest.raises(Exception, match="row 3 cannot be written"):
            if sink == "upsert":
                upsert_parquet(batch, target, ["k"])
            else:
                counter_merge_parquet(batch, target, ["k"], ["c"])
        assert _tree_digest(target) == before
        assert _leftovers(target) == []
        got = {r.k: r.c for r in spark.read.parquet(target).collect()}
        assert got == {1: 10, 2: 20}

    @pytest.mark.parametrize("sink", ["upsert", "counter"])
    def test_swap_cut_between_renames_is_restored(self, spark, tmp_path, sink):
        """A crash after target -> .__old-* and before tmp -> target leaves
        no target; the next merge must start from the previous table, not
        take the first-write branch and keep only its own batch."""
        target = str(tmp_path / f"{sink}.parquet")
        spark.createDataFrame([(1, 10), (2, 20)], "k long, c long").write.parquet(target)
        os.rename(target, f"{target}.__old-{uuid.uuid4().hex}")
        batch = spark.createDataFrame([(2, 5), (3, 7)], "k long, c long")
        if sink == "upsert":
            upsert_parquet(batch, target, ["k"])
            want = {1: 10, 2: 5, 3: 7}
        else:
            counter_merge_parquet(batch, target, ["k"], ["c"])
            want = {1: 10, 2: 25, 3: 7}
        got = {r.k: r.c for r in spark.read.parquet(target).collect()}
        assert got == want
        assert _leftovers(target) == []

    def test_several_swapped_out_copies_refuse(self, spark, tmp_path):
        target = str(tmp_path / "t.parquet")
        for _ in range(2):
            _kv(spark, [(1, "a")]).write.parquet(f"{target}.__old-{uuid.uuid4().hex}")
        with pytest.raises(OSError, match="restore the right one by hand"):
            upsert_parquet(_kv(spark, [(2, "b")]), target, ["k"])
        assert not os.path.exists(target)


def _write_source(path, ks, vs):
    pq.write_table(pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.int64())}), path)


def test_failfast_raises_before_any_write(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    _write_source(src, [1, None, 3], [1, 2, 3])
    target = str(tmp_path / "target.parquet")
    spark.createDataFrame([(1, 100)], "k long, v long").write.parquet(target)
    before = _tree_digest(target)
    spec = PipelineSpec(
        tables=[
            TableMigration(
                table_name="t", key_columns=["k"], target_table_name="t2",
                simulate_only=False, continue_on_row_error=False,
            )
        ]
    )
    calls = []

    def sink(df, t):
        calls.append(t.table_name)
        upsert_parquet(df, target, t.key_columns)

    with pytest.raises(RuntimeError, match="fail validity"):
        run_pipeline(spark, spec, {"t": spark.read.parquet(src)}, sink=sink)
    assert calls == []
    assert _tree_digest(target) == before


def test_conservation_with_null_key_across_sink_modes(spark, tmp_path):
    """rows_read == rows_passed_filter + rows_filtered + rows_failed for the
    upsert, insert-if-not-exists and counter tables of one run, each fed a
    NULL-key row, with rows_failed observed on the sink's one action."""
    ks, vs = [1, 2, None, 4, 5, 6], [10, 20, 30, 40, 1, 60]
    for name in ("up", "ine", "cnt"):
        _write_source(str(tmp_path / f"{name}.parquet"), ks, vs)
    targets = {n: str(tmp_path / f"{n}_t.parquet") for n in ("up", "ine", "cnt")}
    for n in ("up", "ine", "cnt"):
        spark.createDataFrame([(1, 7), (9, 9)], "k long, v long").write.parquet(targets[n])

    def table(name, **kw):
        return TableMigration(
            table_name=name, target_table_name=name, key_columns=["k"],
            simulate_only=False, continue_on_row_error=True,
            filters=[FilterDef("row.v >= 5")], **kw,
        )

    spec = PipelineSpec(
        tables=[table("up"), table("ine", insert_only_if_not_exist=True),
                table("cnt", counter_columns=["v"])],
        thread_count=2,
    )

    def sink(df, t):
        write_table(df, t, targets[t.table_name])

    sources = {n: spark.read.parquet(str(tmp_path / f"{n}.parquet")) for n in targets}
    tgt = {n: spark.read.parquet(p) for n, p in targets.items()}
    results = {r.table: r for r in run_pipeline(spark, spec, sources, tgt, sink)}
    for r in results.values():
        assert r.rows_read == 6
        assert r.rows_read == r.rows_passed_filter + r.rows_filtered + r.rows_failed
    assert results["up"].rows_failed == results["ine"].rows_failed == 1
    assert results["up"].rows_passed_filter == 4  # 1, 2, 4, 6 (v=1 filtered)
    assert results["ine"].rows_passed_filter == 3  # key 1 already held
    got = {
        n: {r.k: r.v for r in spark.read.parquet(p).collect()} for n, p in targets.items()
    }
    assert got["up"] == {1: 10, 2: 20, 4: 40, 6: 60, 9: 9}
    assert got["ine"] == {1: 7, 2: 20, 4: 40, 6: 60, 9: 9}
    assert None not in got["up"] and None not in got["ine"]
    assert got["cnt"][1] == 17 and got["cnt"][9] == 9
    assert all(_leftovers(p) == [] for p in targets.values())
