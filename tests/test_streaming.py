"""Streaming-vs-batch agreement: a bounded stream fully processed in
complete mode must equal the batch computation (SURVEY §2.9 T8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table
from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
    read_events_stream,
    run_to_memory,
    streaming_dedup_counts,
    tumbling_window_agg,
)


def _as_sorted_tuples(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_agg_equals_batch(spark, sf_dir):
    stream_out = run_to_memory(tumbling_window_agg(read_events_stream(spark, sf_dir), "1 hour"))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    assert _as_sorted_tuples(stream_out.collect()) == _as_sorted_tuples(batch.collect())


def test_streaming_dedup_equals_batch(spark, sf_dir):
    stream_out = run_to_memory(streaming_dedup_counts(read_events_stream(spark, sf_dir)))
    batch = (
        load_table(spark, sf_dir, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
        )
    )
    assert _as_sorted_tuples(stream_out.collect()) == _as_sorted_tuples(batch.collect())


def test_watermark_accepted_on_stream(spark, sf_dir):
    # wiring check: watermarked plan builds and runs (append-mode semantics
    # are production wiring; complete mode is the bounded-test path)
    agg = tumbling_window_agg(read_events_stream(spark, sf_dir), "1 hour", watermark="30 minutes")
    out = run_to_memory(agg)
    assert out.count() > 0


def test_session_and_sliding_and_stateful_equal_batch(spark, sf_dir):
    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        session_window_agg,
        sliding_window_agg,
        stateful_user_stats,
    )

    events = load_table(spark, sf_dir, "events")

    sess_stream = run_to_memory(session_window_agg(read_events_stream(spark, sf_dir)))
    sess_batch = (
        events.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    assert _as_sorted_tuples(sess_stream.collect()) == _as_sorted_tuples(sess_batch.collect())

    slide_stream = run_to_memory(sliding_window_agg(read_events_stream(spark, sf_dir)))
    assert slide_stream.count() > 0

    stateful = run_to_memory(
        stateful_user_stats(read_events_stream(spark, sf_dir)), output_mode="update"
    )
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value")
    )
    assert _as_sorted_tuples(stateful.collect()) == _as_sorted_tuples(batch.collect())


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path):
    """Append-mode watermark semantics, end to end: a row arriving in a
    later microbatch, older than the advanced watermark, is dropped from an
    already-closed window.  Watermark propagation lags one microbatch (it is
    computed from batch N's data and becomes operative in batch N+1), so the
    late row arrives two batches after the event that seals its window."""
    import os
    import uuid as _uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "events_stream"
    src.mkdir()
    schema = "ts timestamp, v long"

    def write_batch(name, stamps, vals, mtime):
        tbl = pa.table(
            {"ts": pd.to_datetime(stamps).astype("datetime64[us]"), "v": vals}
        )
        path = str(src / name)
        pq.write_table(tbl, path)
        # FileStreamSource orders by modification time — make it explicit
        os.utime(path, (mtime, mtime))

    # batch 1: three rows in the 10:00 window + one at 12:00 that moves the
    # watermark (10 min delay) to 11:50, sealing the 10:00-11:00 window
    write_batch(
        "b1.parquet",
        ["2024-01-01 10:00:30", "2024-01-01 10:05:00",
         "2024-01-01 10:20:00", "2024-01-01 12:00:00"],
        [1, 1, 1, 1],
        1_000_000_000,
    )
    # batch 2: watermark from batch 1 (11:50) becomes operative
    write_batch("b2.parquet", ["2024-01-01 13:00:00"], [1], 1_000_000_010)
    # batch 3: a LATE row for the sealed 10:00 window + one at 14:00
    write_batch(
        "b3.parquet", ["2024-01-01 10:01:00", "2024-01-01 14:00:00"], [100, 1],
        1_000_000_020,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    name = f"wm_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = {r["ws"].isoformat(): r["n"] for r in spark.table(name).collect()}
    # the 10:00 window emitted exactly once, WITHOUT the late batch-3 row
    assert rows.get("2024-01-01T10:00:00") == 3
    # the 12:00 window sealed once the watermark passed 13:00
    assert rows.get("2024-01-01T12:00:00") == 1
    # windows not yet past the final watermark (13:50) never emit in append
    assert "2024-01-01T13:00:00" not in rows
    assert "2024-01-01T14:00:00" not in rows


def test_status_reporter_emits_progress_lines(spark, sf_dir):
    """T6: the streaming listener reports per-batch rows and throughput,
    the reference's periodic status print reborn as progress events."""
    import time

    from cassandra_cql_streaming_db_migrator_spark.metrics import StatusReporter
    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        run_to_memory,
        tumbling_window_agg,
    )

    rep = StatusReporter.attach(spark)
    try:
        run_to_memory(tumbling_window_agg(read_events_stream(spark, sf_dir), "1 hour"))
        # listener events are delivered asynchronously
        deadline = time.time() + 10
        while time.time() < deadline and not any("rows=" in l for l in rep.lines):
            time.sleep(0.2)
    finally:
        rep.detach(spark)
    progress = [l for l in rep.lines if "rows=" in l]
    assert progress, rep.lines
    assert any("rows=1000" in l for l in progress)  # sf0.001 events
    # A3: the read/write latency split rides every status line and the
    # sliding-window histograms actually accumulated observations
    assert all("fetch_ms=" in l and "write_ms=" in l for l in progress)
    assert len(rep.read_latency) == len(progress)
    assert len(rep.write_latency) == len(progress)
    assert rep.write_latency.quantile(0.5) is not None
    assert "p50=" in rep.write_latency.summary()
    # a real microbatch spent nonzero time executing/writing
    assert max(rep.write_latency._obs) > 0


def test_bounded_dedup_catches_near_dups_and_evicts_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate arriving while the
    original is inside the watermark window is dropped; after the state
    evicts, the same key passes again (bounded-state contract)."""
    import os
    import uuid as _uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        streaming_dedup_bounded,
    )

    src = tmp_path / "src"
    src.mkdir()

    def wb(name, stamps, keys, mtime):
        p = str(src / name)
        pq.write_table(
            pa.table({"ts": pd.to_datetime(stamps).astype("datetime64[us]"), "k": keys}),
            p,
        )
        os.utime(p, (mtime, mtime))

    # batch 1: k=1 at 10:00 (original) + k=9 at 10:01
    wb("b1.parquet", ["2024-01-01 10:00:00", "2024-01-01 10:01:00"], [1, 9], 1e9)
    # batch 2: duplicate k=1 at 10:02 (inside 10-min window -> dropped),
    # plus a 12:00 row that pushes the watermark to 11:50 (evicts k=1 state)
    wb("b2.parquet", ["2024-01-01 10:02:00", "2024-01-01 12:00:00"], [1, 7], 1e9 + 10)
    # batch 3: watermark 11:50 now operative; state for k=1 (expiry 10:10)
    # evicts during this batch
    wb("b3.parquet", ["2024-01-01 12:30:00"], [5], 1e9 + 20)
    # batch 4: k=1 state is gone -> the same key passes again
    wb("b4.parquet", ["2024-01-01 12:35:00"], [1], 1e9 + 30)

    deduped = streaming_dedup_bounded(
        spark.readStream.schema("ts timestamp, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        ["k"],
    )
    name = f"bd_{_uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = sorted((r["k"], r["ts"].isoformat()) for r in spark.table(name).collect())
    ks = [k for k, _ in got]
    # k=1 appears TWICE: the 10:00 original and the 12:35 re-pass after
    # eviction; the 10:02 duplicate was caught
    assert ks.count(1) == 2, got
    times_k1 = sorted(t for k, t in got if k == 1)
    assert times_k1 == ["2024-01-01T10:00:00", "2024-01-01T12:35:00"]
    assert ks.count(9) == 1 and ks.count(7) == 1 and ks.count(5) == 1


def test_stream_kmv_merges_across_microbatches(spark, tmp_path):
    """The k-min state must fold batch after batch into exactly the sketch
    a single batch pass would compute (mergeability), while holding at
    most k values per group."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.functions.hashing import MINHASH_P
    from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
        KMV_A,
        KMV_B,
    )
    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        run_to_memory,
        streaming_kmv_state,
    )

    src = tmp_path / "kmv_stream"
    src.mkdir()
    keys_b1 = list(range(0, 300))
    keys_b2 = list(range(150, 500))  # overlaps b1: dedup across batches
    for name, keys, mtime in (
        ("b1.parquet", keys_b1, 1_000_000_000),
        ("b2.parquet", keys_b2, 1_000_000_010),
    ):
        path = str(src / name)
        pq.write_table(
            pa.table({"g": ["x"] * len(keys), "key": pd.array(keys, "int64")}),
            path,
        )
        os.utime(path, (mtime, mtime))

    stream = (
        spark.readStream.schema("g string, key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        streaming_kmv_state(stream, "g", "key", k=16), output_mode="update"
    ).collect()
    # one update per microbatch; the final state has the most minima seen
    assert sorted(r.rev for r in out) == [1, 2]  # one update per microbatch
    final = max(out, key=lambda r: r.rev)
    assert final.n_min <= 16  # state stays bounded
    all_keys = set(keys_b1) | set(keys_b2)
    ref = sorted((KMV_A * x + KMV_B) % MINHASH_P for x in all_keys)[:16]
    assert (final.n_min, final.kth_min) == (len(ref), ref[-1])


def test_stream_kmv_null_keys_with_large_keys_match_batch(spark, tmp_path):
    """A NULL key sharing a microbatch with keys >= 2^53 must not poison
    the sketch: NULLs are filtered BEFORE the state op, because one NULL
    in an Arrow chunk coerces the int64 column to float64 and collapses
    large keys (2^62+1 == 2^62+2 in float64).  The streaming sketch must
    equal the batch kmv_distinct reference on the same data."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.functions.hashing import MINHASH_P
    from cassandra_cql_streaming_db_migrator_spark.operators.sketches import (
        KMV_A,
        KMV_B,
    )
    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        run_to_memory,
        streaming_kmv_state,
    )

    keys = [(1 << 62) + i for i in range(40)] + [None] * 5 + list(range(20))
    src = tmp_path / "kmv_null_stream"
    src.mkdir()
    pq.write_table(
        pa.table({"g": ["x"] * len(keys), "key": pd.array(keys, "Int64")}),
        str(src / "b1.parquet"),
    )
    stream = (
        spark.readStream.schema("g string, key long").parquet(str(src))
    )
    out = run_to_memory(
        streaming_kmv_state(stream, "g", "key", k=16), output_mode="update"
    ).collect()
    final = max(out, key=lambda r: r.rev)
    live = [k for k in keys if k is not None]
    # set semantics: KMV state is a set of HASHES (keys colliding through
    # the narrowing pmod count once — batch kmv_distinct dedups the same way)
    hashes = {(((x % MINHASH_P) * KMV_A) + KMV_B) % MINHASH_P for x in live}
    ref = sorted(hashes)[:16]
    assert (final.n_min, final.kth_min) == (len(ref), ref[-1])


def test_stream_funnel_state_advances_across_microbatches(spark, tmp_path):
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        run_to_memory,
        streaming_funnel_state,
    )

    src = tmp_path / "funnel_stream"
    src.mkdir()

    def write(name, rows, mtime):
        ts, et = zip(*rows)
        path = str(src / name)
        pq.write_table(
            pa.table({
                "user_id": pd.array([1] * len(rows), "int64"),
                "ts": pd.to_datetime(list(ts)).astype("datetime64[us]"),
                "event_type": list(et),
            }),
            path,
        )
        os.utime(path, (mtime, mtime))

    # batch 1: signup then click; batch 2: purchase -> full funnel
    write("b1.parquet",
          [("2024-01-01 10:00", "signup"), ("2024-01-01 10:05", "click")],
          1_000_000_000)
    write("b2.parquet", [("2024-01-01 10:10", "purchase")], 1_000_000_010)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        streaming_funnel_state(stream, "user_id", "ts", "event_type",
                               ["signup", "click", "purchase"]),
        output_mode="update",
    ).collect()
    per_batch = sorted(r.reached for r in out)
    assert per_batch == [2, 3]  # state carried: 2 after b1, 3 after b2


def test_stream_scd2_extends_history_across_microbatches(spark, tmp_path):
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        run_to_memory,
        streaming_scd2_state,
    )

    src = tmp_path / "scd2_stream"
    src.mkdir()

    def write(name, rows, mtime):
        ts, et = zip(*rows)
        path = str(src / name)
        pq.write_table(
            pa.table({
                "user_id": pd.array([1] * len(rows), "int64"),
                "ts": pd.to_datetime(list(ts)).astype("datetime64[us]"),
                "event_type": list(et),
            }),
            path,
        )
        os.utime(path, (mtime, mtime))

    # batch 1 opens run A; batch 2 extends A then flips to B: the A run
    # must CLOSE at B's start and keep its cross-batch event count
    write("b1.parquet", [("2024-01-01 10:00", "A")], 1_000_000_000)
    write("b2.parquet",
          [("2024-01-01 10:05", "A"), ("2024-01-01 10:10", "B")],
          1_000_000_010)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        streaming_scd2_state(stream, "user_id", "ts", "event_type"),
        output_mode="update",
    ).collect()
    final = sorted(
        [r for r in out if r.rev == max(x.rev for x in out)],
        key=lambda r: r.valid_from,
    )
    assert [(r.event_type, r.n_events, r.is_current) for r in final] == [
        ("A", 2, False), ("B", 1, True),
    ]
    assert final[0].valid_to == final[1].valid_from


def test_stream_cdc_latest_matches_batch(spark, sf_dir):
    """The streaming upsert view drained to completion equals the batch
    CDC compaction row-for-row."""
    from cassandra_cql_streaming_db_migrator_spark.operators.temporal import (
        latest_by_key,
    )
    from cassandra_cql_streaming_db_migrator_spark.queries.streaming import (
        stream_cdc_latest,
    )
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

    live = sorted(map(tuple, stream_cdc_latest(spark, sf_dir).collect()))
    events = load_table(spark, sf_dir, "events")
    batch = latest_by_key(
        events.withColumn("ts", F.col("ts").cast("timestamp")),
        "user_id", "ts", "event_id", ["event_type", "value"],
    )
    assert live == sorted(map(tuple, batch.collect()))


def test_stream_zscore_state_carries_across_microbatches(spark, tmp_path):
    """The rolling deque survives the batch boundary: values arriving in
    batch 2 are tested against history from batch 1 (bit-identical to
    the batch window on the in-order drop), and counters accumulate."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        run_to_memory,
        streaming_zscore_state,
    )

    src = tmp_path / "zscore_stream"
    src.mkdir()

    def write(name, vals, t0, mtime):
        path = str(src / name)
        ts = pd.to_datetime(
            [f"2024-01-01 10:{t0 + i:02d}" for i in range(len(vals))]
        ).astype("datetime64[us]")
        pq.write_table(
            pa.table({
                "user_id": pd.array([1] * len(vals), "int64"),
                "ts": ts,
                "event_id": pd.array(range(t0, t0 + len(vals)), "int64"),
                "value": pd.array(vals, "float64"),
            }),
            path,
        )
        os.utime(path, (mtime, mtime))

    # batch 1: 5 steady values (builds the window, nothing testable until
    # n >= 5); batch 2: one steady value (tested, normal) + one spike
    # (tested, anomalous only because batch-1 history is in state)
    write("b1.parquet", [10.0, 10.2, 9.8, 10.1, 9.9], 0, 1_000_000_000)
    write("b2.parquet", [10.0, 50.0], 10, 1_000_000_010)
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        streaming_zscore_state(stream), output_mode="update"
    ).collect()
    per_batch = sorted((r.n_tested, r.n_anomalies) for r in out)
    assert per_batch == [(0, 0), (2, 1)]


def test_chunked_stream_schema_is_nullable(spark, tmp_path):
    """A caller frame's non-nullable flags do not reach the file stream's
    schema: every field reads as nullable.  Spark's file source forces
    that by default; the conf that does so is switched off here, so the
    test checks the schema the function itself builds."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandra_cql_streaming_db_migrator_spark.streaming.stream import (
        read_documents_stream_chunked,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("text", StringType(), True),
            StructField("chunk", LongType(), False),
        ]
    )
    docs = spark.createDataFrame([(1, "a", 0), (2, None, 1)], schema)
    assert not docs.schema["doc_id"].nullable
    force = "spark.sql.streaming.fileSource.schema.forceNullable"
    prev = spark.conf.get(force, None)
    spark.conf.set(force, "false")
    try:
        for chunk_col, d in ((None, "plain"), ("chunk", "by_chunk")):
            stream = read_documents_stream_chunked(
                spark, docs, n_chunks=2, scratch_dir=str(tmp_path / d),
                chunk_col=chunk_col,
            )
            assert stream.isStreaming
            assert all(f.nullable for f in stream.schema.fields), stream.schema
    finally:
        if prev is None:
            spark.conf.unset(force)
        else:
            spark.conf.set(force, prev)
