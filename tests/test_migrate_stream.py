"""End-to-end streaming migration: events stream -> spec transform ->
foreachBatch upsert into a parquet target (SURVEY §2.9 T1-T5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.plans.spec import FilterDef, TableMigration
from cassandra_cql_streaming_db_migrator_spark.sources.cassandra import connection_options
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table
from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import migrate_stream_to_parquet
from cassandra_cql_streaming_db_migrator_spark.streaming.stream import read_events_stream


def _spec(simulate: bool) -> TableMigration:
    return TableMigration(
        table_name="events",
        key_columns=["event_id"],
        filters=[FilterDef("row.value >= 0.0", language="mvel")],
        calculated_columns={"value_cents": "CAST(row.value * 100 AS BIGINT)"},
        simulate_only=simulate,
        continue_on_row_error=True,
    )


def test_streaming_migrate_upserts_target(spark, sf_dir, tmp_path):
    target = str(tmp_path / "events_v2.parquet")
    stream = read_events_stream(spark, sf_dir)
    migrate_stream_to_parquet(
        stream, _spec(simulate=False), target, checkpoint_dir=str(tmp_path / "ckpt")
    )

    got = spark.read.parquet(target)
    expect = (
        load_table(spark, sf_dir, "events")
        .filter("value >= 0.0")
        .withColumn("value_cents", F.expr("CAST(value * 100 AS BIGINT)"))
    )
    assert got.count() == expect.count()
    assert set(got.columns) == set(expect.columns)
    # spot-check one migrated row's computed column
    row = got.orderBy("event_id").first()
    src = expect.orderBy("event_id").first()
    assert row.value_cents == src.value_cents


def test_streaming_migrate_simulate_writes_nothing(spark, sf_dir, tmp_path):
    target = str(tmp_path / "nothing.parquet")
    stream = read_events_stream(spark, sf_dir)
    migrate_stream_to_parquet(
        stream, _spec(simulate=True), target, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    import os

    assert not os.path.exists(target)


def test_streaming_migrate_status_line_carries_latency_quantiles(
    spark, sf_dir, tmp_path
):
    """T6+A3 end-to-end: a real streaming migration's status lines carry the
    read AND write sliding-window histogram quantiles (p50/p99), the analog
    of the reference's periodic report (MigrateTableTask.java:400-410:
    avgOfLastReadTimes / avgOfLastWriteTimes in every status print)."""
    import re
    import time

    from cassandra_cql_streaming_db_migrator_spark.metrics import StatusReporter

    rep = StatusReporter.attach(spark)
    try:
        target = str(tmp_path / "events_status.parquet")
        stream = read_events_stream(spark, sf_dir)
        migrate_stream_to_parquet(
            stream, _spec(simulate=False), target,
            checkpoint_dir=str(tmp_path / "ckpt_status"),
        )
        deadline = time.time() + 10
        while time.time() < deadline and not any(
            "rows=" in line for line in rep.lines
        ):
            time.sleep(0.2)
    finally:
        rep.detach(spark)

    progress = [line for line in rep.lines if "rows=" in line]
    assert progress, rep.lines
    # each status line embeds BOTH histograms' quantile summaries
    pat = re.compile(
        r"fetch_ms=\S+ \[n=\d+ p50=\d+ p95=\d+ p99=\d+ max=\d+\] "
        r"write_ms=\S+ \[n=\d+ p50=\d+ p95=\d+ p99=\d+ max=\d+\]"
    )
    assert all(pat.search(line) for line in progress), progress
    # and the quantiles are real observations, not placeholders
    assert rep.read_latency.quantile(0.99) is not None
    assert rep.write_latency.quantile(0.99) is not None
    assert max(rep.write_latency._obs) > 0


def test_connection_options_parity():
    """DBDefinition fields -> connector options (CCA:184-234 mapping)."""
    opts = connection_options(
        {
            "contactPoints": ["10.0.0.1", "10.0.0.2"],
            "port": 9042,
            "localDatacenter": "dc1",
            "username": "u",
            "password": "p",
            "keyspaceName": "ks",
        }
    )
    assert opts["spark.cassandra.connection.host"] == "10.0.0.1,10.0.0.2"
    assert opts["spark.cassandra.connection.port"] == "9042"
    assert opts["spark.cassandra.connection.localDC"] == "dc1"
    assert opts["spark.cassandra.auth.username"] == "u"


def test_multibatch_stream_upsert_last_batch_wins(spark, tmp_path):
    """Two ordered microbatches writing the same PK: the later batch's value
    must survive in the upsert target (K1 last-write-wins across batches)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration
    from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
        migrate_stream_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()

    def wb(name, ks, vs, mtime):
        p = str(src / name)
        pq.write_table(pa.table({"k": ks, "v": vs}), p)
        os.utime(p, (mtime, mtime))

    wb("b1.parquet", [1, 2], ["one_v1", "two_v1"], 1_000_000_000)
    wb("b2.parquet", [2, 3], ["two_v2", "three_v1"], 1_000_000_010)

    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    spec = TableMigration(
        table_name="t", key_columns=["k"], simulate_only=False,
        continue_on_row_error=True,
    )
    target = str(tmp_path / "target")
    migrate_stream_to_parquet(stream, spec, target, checkpoint_dir=str(tmp_path / "ck"))
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "one_v1", 2: "two_v2", 3: "three_v1"}


def _null_key_stream(spark, tmp_path, batches):
    """A file stream over ``batches`` (one parquet file each, one file
    per microbatch, in order) of ``k long, v string`` rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        ks, vs = zip(*rows)
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.string())}), p
        )
        os.utime(p, (1_000_000_000 + 10 * i,) * 2)
    return (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_stream_quarantines_null_key_rows(spark, tmp_path):
    """A NULL-key row never reaches a streamed target, on the first write
    or on a merge: streams apply the batch pipeline's validity split."""
    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration
    from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
        migrate_stream_to_parquet,
    )

    stream = _null_key_stream(
        spark, tmp_path, [[(1, "a"), (None, "bad1")], [(None, "bad2"), (2, "b")]]
    )
    spec = TableMigration(
        table_name="t", key_columns=["k"], simulate_only=False,
        continue_on_row_error=True,
    )
    target = str(tmp_path / "target")
    migrate_stream_to_parquet(stream, spec, target, checkpoint_dir=str(tmp_path / "ck"))
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b"}


def test_stream_failfast_null_key_keeps_target(spark, tmp_path):
    """Without continue_on_row_error a NULL-key row fails its microbatch
    inside the merge write: the target keeps the earlier batch's rows and
    no swap sibling is left behind."""
    import glob

    import pytest

    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration
    from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
        migrate_stream_to_parquet,
    )

    stream = _null_key_stream(spark, tmp_path, [[(1, "a")], [(2, "b"), (None, "bad")]])
    spec = TableMigration(
        table_name="t", key_columns=["k"], simulate_only=False,
        continue_on_row_error=False,
    )
    target = str(tmp_path / "target")
    with pytest.raises(Exception, match="fails validity"):
        migrate_stream_to_parquet(stream, spec, target, checkpoint_dir=str(tmp_path / "ck"))
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a"}
    assert glob.glob(target + ".__*") == []


def test_stream_if_not_exists_keeps_existing_rows_and_replays_idempotently(
    spark, tmp_path
):
    """An insert-only-if-not-exists table streamed into a target that
    already holds a key keeps the old value (K2: the LWT insert is not
    applied), and a replay of the last microbatch (its commit removed, as
    after a crash between the write and the commit) appends nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration
    from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
        migrate_stream_to_parquet,
    )

    target = str(tmp_path / "target")
    os.makedirs(target)
    pq.write_table(
        pa.table({"k": pa.array([1], pa.int64()), "v": pa.array(["old"], pa.string())}),
        os.path.join(target, "part-0.parquet"),
    )
    spec = TableMigration(
        table_name="t", key_columns=["k"], simulate_only=False,
        continue_on_row_error=True, insert_only_if_not_exist=True,
    )
    ckpt = str(tmp_path / "ck")

    def run():
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )
        migrate_stream_to_parquet(stream, spec, target, checkpoint_dir=ckpt)
        return sorted(tuple(r) for r in spark.read.parquet(target).collect())

    _null_key_stream(spark, tmp_path, [[(1, "new"), (2, "b")], [(3, "c")]])
    first = run()
    assert first == [(1, "old"), (2, "b"), (3, "c")]

    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        os.remove(os.path.join(commits, f))
    assert run() == first


def test_stream_maps_source_onto_existing_target_columns(spark, tmp_path):
    """A streamed upsert maps each microbatch onto the existing target's
    columns, as the batch pipeline does: a source column the target lacks
    is not written, and the target keeps its schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    target = str(tmp_path / "target")
    os.makedirs(target)
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), "v": pa.array(["a", "b"], pa.string())}),
        os.path.join(target, "part-0.parquet"),
    )
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([2, 3], pa.int64()), "v": pa.array(["B", "c"], pa.string()),
                  "extra": pa.array([20, 30], pa.int64())}),
        str(src / "b0.parquet"),
    )
    stream = spark.readStream.schema("k long, v string, extra long").parquet(str(src))
    spec = TableMigration(
        table_name="t", key_columns=["k"], simulate_only=False,
        continue_on_row_error=True,
    )
    migrate_stream_to_parquet(stream, spec, target, checkpoint_dir=str(tmp_path / "ck"))
    back = spark.read.parquet(target)
    assert back.columns == ["k", "v"]
    assert {r["k"]: r["v"] for r in back.collect()} == {1: "a", 2: "B", 3: "c"}


def test_stream_refuses_row_caps_before_starting(spark, sf_dir, tmp_path):
    """Row caps bound a whole job; a streamed migration refuses a spec that
    sets one instead of applying it to each microbatch."""
    import os

    import pytest

    spec = TableMigration(
        table_name="events", key_columns=["event_id"], simulate_only=False,
        continue_on_row_error=True, max_read_row_count=10,
    )
    target = str(tmp_path / "capped.parquet")
    ckpt = str(tmp_path / "ck_capped")
    stream = read_events_stream(spark, sf_dir)
    with pytest.raises(ValueError, match="maxReadRowCount"):
        migrate_stream_to_parquet(stream, spec, target, checkpoint_dir=ckpt)
    assert not os.path.exists(target) and not os.path.exists(ckpt)
    assert not [q for q in spark.streams.active if q.name == "migrate_events"]


def test_stream_counter_replay_is_skipped_and_finishes(spark, tmp_path):
    """A counter table's replayed microbatch (its commit removed, as after a
    crash between the sink and the checkpoint commit) is skipped by the
    epoch fence: the rerun finishes and the sums do not change."""
    import os
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration
    from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
        migrate_stream_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    for i, (ks, hits) in enumerate([([1, 1, 2], [3, 4, 5]), ([1, 2], [10, 20])]):
        p = str(src / f"b{i}.parquet")
        pq.write_table(pa.table({"k": ks, "hits": hits}), p)
        os.utime(p, (1_000_000_000 + 10 * i,) * 2)
    spec = TableMigration(
        table_name="t_counter", key_columns=["k"], counter_columns=["hits"],
        simulate_only=False, continue_on_row_error=True,
    )
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema("k long, hits long").option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src))
        t = threading.Thread(
            target=migrate_stream_to_parquet,
            args=(stream, spec, target),
            kwargs={"checkpoint_dir": ckpt},
            daemon=True,
        )
        t.start()
        t.join(120)  # a hung microbatch fails this test instead of the suite
        if t.is_alive():
            pytest.fail("the streamed counter migration did not finish")
        return {r["k"]: r["hits"] for r in spark.read.parquet(target).collect()}

    first = run()
    assert first == {1: 17, 2: 25}

    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        os.remove(os.path.join(commits, f))
    assert run() == first
