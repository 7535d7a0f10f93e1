"""Streaming queries (SURVEY §2.9 T1-T4 subsumed, T8 exposed).

Each query runs a real Structured Streaming pipeline (file stream ->
stateful aggregate -> memory sink, availableNow trigger) to completion and
returns the result, so the oracle checks end-to-end streaming semantics
against batch SQL — valid because a bounded stream fully processed must
agree with the batch computation (complete output mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions import sqlexpr
from ..operators.driverside import arrow_frame

from ..streaming.stream import (
    latest_by_key_agg,
    ohlc_window_agg,
    read_events_stream,
    run_to_memory,
    session_window_agg,
    sliding_window_agg,
    stateful_user_stats,
    stream_stream_interval_join,
    streaming_dedup_counts,
    tumbling_window_agg,
)
from . import QueryDef


def _canon_sum(df: DataFrame) -> DataFrame:
    """Canonical DOUBLE form for the exact decimal sum at the hashed query
    boundary (same rule as operators.aggregates.decimal_sum)."""
    if "sum_value" in df.columns:
        df = df.withColumn("sum_value", F.round(F.col("sum_value"), 6).cast("double"))
    return df


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return _canon_sum(run_to_memory(tumbling_window_agg(events, "1 hour")))


_STREAM_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data contracts on a LIVE stream: the aggregate-only expectation
    rules (plans/expectations.py) run as one wide streaming aggregate in
    complete mode — every rule counter is incrementally mergeable, so the
    violation report stays current per microbatch with O(rules) state.
    A drained bounded stream equals the batch report (the oracle)."""
    events = read_events_stream(spark, sf_dir)
    wide = events.agg(
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("user_id_not_null"),
        F.sum(
            F.when(
                F.col("value").isNotNull()
                & ((F.col("value") < -1000.0) | (F.col("value") > 1000.0)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("value_in_range"),
        F.sum(
            F.when(
                F.col("event_type").isNotNull()
                & ~F.col("event_type").isin("click", "view", "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("type_in_3"),
        F.greatest(
            F.lit(0).cast("long"),
            F.lit(1_000_000_000).cast("long") - F.count(F.lit(1)),
        ).alias("at_least_1e9_rows"),
    )
    done = run_to_memory(wide)
    return done.select(
        F.expr(
            "stack(4, 'user_id_not_null', user_id_not_null, "
            "'value_in_range', value_in_range, "
            "'type_in_3', type_in_3, "
            "'at_least_1e9_rows', at_least_1e9_rows) "
            "AS (rule, n_violations)"
        )
    )


_STREAM_EXPECTATIONS_SQL = """
WITH wide AS (
  SELECT
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS user_id_not_null,
    CAST(sum(CASE WHEN value IS NOT NULL AND (value < -1000.0 OR value > 1000.0)
                  THEN 1 ELSE 0 END) AS BIGINT) AS value_in_range,
    CAST(sum(CASE WHEN event_type IS NOT NULL
                   AND event_type NOT IN ('click', 'view', 'purchase')
                  THEN 1 ELSE 0 END) AS BIGINT) AS type_in_3,
    greatest(CAST(0 AS BIGINT), CAST(1000000000 AS BIGINT) - count(*))
      AS at_least_1e9_rows
  FROM events
)
SELECT 'user_id_not_null' AS rule, user_id_not_null AS n_violations FROM wide
UNION ALL SELECT 'value_in_range', value_in_range FROM wide
UNION ALL SELECT 'type_in_3', type_in_3 FROM wide
UNION ALL SELECT 'at_least_1e9_rows', at_least_1e9_rows FROM wide
"""


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live leaderboard: the tumbling-window count aggregate runs as a real
    stream; the top-k rank is applied over the materialized live view (the
    same read-side pattern as stream_cdc_latest) — rank-in-stream would
    require complete-mode re-emission of whole windows, the view rank gives
    identical rows on any bounded prefix."""
    from pyspark.sql import Window

    events = read_events_stream(spark, sf_dir)
    counts = run_to_memory(tumbling_window_agg(events, "1 hour"))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.col("event_type")
    )
    return (
        counts.select("window_start", "event_type", "n_events")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
    )


_STREAM_TOPK_SQL = """
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT c.*, row_number() OVER (
    PARTITION BY window_start ORDER BY n_events DESC, event_type
  ) AS rk FROM c
) ranked
WHERE rk <= 2
"""


def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return run_to_memory(ohlc_window_agg(events, "6 hours"))


def _stream_ohlc_sql() -> str:
    from ..operators.timeseries import ord_key_sql

    # Spark's window() aligns tumbling windows to the epoch, so the 6-hour
    # window start is epoch_us // 21600e6 * 21600 seconds.  make_timestamp
    # (not to_timestamp+CAST) keeps the oracle independent of the DuckDB
    # host's TimeZone setting.
    return f"""
WITH b AS (
  SELECT event_type, value AS v,
         make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
           AS window_start,
         {ord_key_sql("ts", "event_id")} AS ord_key
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events,
       round(arg_min(struct_pack(v := v), ord_key).v, 6) AS open,
       round(max(v), 6) AS high,
       round(min(v), 6) AS low,
       round(arg_max(struct_pack(v := v), ord_key).v, 6) AS close
FROM b
GROUP BY window_start, event_type
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return _canon_sum(run_to_memory(streaming_dedup_counts(events)))


_STREAM_DEDUP_SQL = """
WITH deduped AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_id ORDER BY event_id) AS rn
  FROM events)
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE) AS sum_value
FROM deduped WHERE rn = 1 GROUP BY event_type
"""


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the canonical streaming dimension
    lookup: the live event stream joins the (bounded, broadcastable)
    customer dimension per microbatch, then rolls up by market segment.
    Spark re-plans the static side as a broadcast every batch, so the
    stream never shuffles for the join; the segment rollup is the only
    stateful aggregate (O(segments) state, complete mode).  A drained
    bounded stream equals the batch join — the oracle."""
    from ..sources.parquet import load_table

    events = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
    )
    return _canon_sum(run_to_memory(agg))


_STREAM_ENRICH_SQL = """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE)
         AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live last-touch attribution: the O(channels)-state GroupState
    kernel (streaming.stream.streaming_attribution_state) keeps only the
    latest touch + cumulative per-channel counters per user; drained over
    the bounded in-order fixture it equals the batch operator — the
    shared oracle (operators.events.last_touch_attribution_sql)."""
    from pyspark.sql import Window

    from ..streaming.stream import streaming_attribution_state

    touch = ["click", "view", "signup"]
    events = read_events_stream(spark, sf_dir)
    per_user = run_to_memory(
        streaming_attribution_state(events, touch),
        output_mode="update",
    )
    w = Window.partitionBy("user_id")
    latest = per_user.withColumn("__mx", F.max("rev").over(w)).where(
        F.col("rev") == F.col("__mx")
    )
    channels = F.array(*[F.lit(t) for t in touch + ["none"]])
    exploded = latest.select(
        F.explode(
            F.arrays_zip(
                channels.alias("attributed_type"),
                F.col("convs").alias("n"),
                F.col("cents").alias("c"),
            )
        ).alias("z")
    ).select("z.attributed_type", "z.n", "z.c")
    return (
        exploded.groupBy("attributed_type")
        .agg(
            F.sum("n").alias("n_conversions"),
            F.sum("c").alias("revenue_cents"),
        )
        .where(F.col("n_conversions") > 0)
    )


def _stream_attribution_sql() -> str:
    from ..operators.events import last_touch_attribution_sql

    return last_touch_attribution_sql(["click", "view", "signup"])


def stream_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE migration certification: the additive md5 table fingerprint
    (operators.profile.table_checksum) maintained as a streaming
    aggregate — the + fold over row digests is mergeable BY CONSTRUCTION,
    so per-microbatch partials roll into the running table fingerprint
    with O(1) state; a CDC mirror can certify content continuously
    instead of re-scanning.  Drained bounded stream == the batch
    checksum (the oracle)."""
    from ..operators.profile import table_checksum

    spec = [
        ("int", "event_id"),
        ("int", "user_id"),
        ("str", "event_type"),
        ("cents", "value"),
        ("us", "ts"),
    ]
    # the BATCH operator runs unchanged on the streaming frame (its only
    # aggregate is incrementally mergeable) — one digest/fold definition,
    # so the streaming certification can never silently fork from the
    # batch fingerprint it claims to equal; only the literal table_name
    # column is dropped to match the streaming output contract
    agg = table_checksum(
        read_events_stream(spark, sf_dir), "events", spec
    ).drop("table_name")
    return run_to_memory(agg)


def _stream_checksum_sql() -> str:
    from ..operators.profile import table_checksum_sql

    # include_name=False: the streaming aggregate has no table_name column
    return table_checksum_sql(
        "events",
        [
            ("int", "event_id"),
            ("int", "user_id"),
            ("str", "event_type"),
            ("cents", "value"),
            ("us", "ts"),
        ],
        include_name=False,
    )


def stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live per-type cardinality from FIXED state: the HLL register table
    (<= 512 ints per group) as GroupState, merged under max per
    microbatch (streaming.stream.streaming_hll_state) — beside
    stream_kmv's O(k) sketch, this is the register-census variant whose
    state never grows however long the stream runs.  Drained bounded
    stream == the batch grouped estimator (the oracle; no exact-control
    column — fixed state cannot carry one)."""
    from pyspark.sql import Window

    from ..streaming.stream import streaming_hll_state

    events = read_events_stream(spark, sf_dir)
    # state is per event TYPE (small enum by design) -> type-scale partitions
    sk = run_to_memory(
        streaming_hll_state(events, "event_type", "user_id"),
        output_mode="update",
        state_partitions=8,
    )
    w = Window.partitionBy("event_type")
    return (
        sk.withColumn("__mx", F.max("rev").over(w))
        .where(F.col("rev") == F.col("__mx"))
        .select("event_type", "n_registers_hit", "est_distinct_x1e6")
    )


def _stream_hll_sql() -> str:
    from ..operators.sketches import hll_register_sketch_grouped_sql

    return hll_register_sketch_grouped_sql(
        "events", "event_type", "user_id", include_exact=False
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return _canon_sum(run_to_memory(session_window_agg(events, "10 minutes")))


# Batch sessionization: a new session starts when the gap to the previous
# event is >= 10 min (each event's window is [ts, ts+gap), so a gap of
# exactly 10 min does NOT merge); session_end = last ts + gap.
_STREAM_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1
              ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '10 minutes' AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sid
"""


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return _canon_sum(run_to_memory(sliding_window_agg(events, "1 hour", "30 minutes")))


# Each event falls into the two 30-min-aligned 1-hour windows covering it.
_STREAM_SLIDING_SQL = """
WITH expanded AS (
  SELECT u.ws AS window_start, event_type, value
  FROM events,
       UNNEST([time_bucket(INTERVAL '30 minutes', ts),
               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
         AS u(ws)
)
SELECT window_start, event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE) AS sum_value
FROM expanded GROUP BY 1, 2
"""


def stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return run_to_memory(stateful_user_stats(events), output_mode="update")


_STREAM_STATEFUL_SQL = """
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events GROUP BY user_id
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
    )
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select("user_id", F.col("ts").alias("r_ts"))
    )
    joined = stream_stream_interval_join(clicks, errors, interval="60 minutes",
                                         watermark="2 hours")
    return run_to_memory(
        joined.select("user_id", "event_id", "ts", F.col("r_ts").alias("err_ts")),
        output_mode="append",
    )


# bounded streams fully processed => the inner interval join equals batch
_STREAM_STREAM_JOIN_SQL = """
SELECT c.user_id, c.event_id, c.ts, e.ts AS err_ts
FROM events c JOIN events e
  ON c.user_id = e.user_id
 AND c.event_type = 'click' AND e.event_type = 'error'
 AND e.ts BETWEEN c.ts - INTERVAL '60 minutes' AND c.ts
"""




_FUNNEL_STEPS = ["signup", "click", "purchase"]


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP funnel on the live stream: per-user step machine in GroupState
    (O(steps) state).  On the bounded in-order fixture the result equals
    the batch funnel, so the oracle is the identical funnel SQL."""
    from ..streaming.stream import streaming_funnel_state

    events = read_events_stream(spark, sf_dir)
    per_user = run_to_memory(
        streaming_funnel_state(events, "user_id", "ts", "event_type",
                               _FUNNEL_STEPS, tiebreak_col="event_id"),
        output_mode="update",
    )
    # updates are monotone per key -> the max is the final state
    final = per_user.groupBy("user_id").agg(F.max("reached").alias("reached"))
    rows = [
        F.struct(
            F.lit(i).alias("step_idx"),
            F.lit(s).alias("step_name"),
            F.sum((F.col("reached") > i).cast("long")).alias("n_keys"),
        )
        for i, s in enumerate(_FUNNEL_STEPS)
    ]
    return (
        final.agg(F.array(*rows).alias("__a"))
        .select(F.explode("__a").alias("s"))
        .select("s.step_idx", "s.step_name", "s.n_keys")
    )


def _stream_funnel_sql() -> str:
    from ..operators.events import funnel_sql

    return funnel_sql("events", "user_id", "ts", "event_type", _FUNNEL_STEPS)


def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live SCD2 history maintenance; on the bounded in-order fixture the
    last emission per user equals the batch build_scd2, so the oracle is
    the batch SQL."""
    from ..streaming.stream import streaming_scd2_state

    events = read_events_stream(spark, sf_dir)
    hist = run_to_memory(
        streaming_scd2_state(events, "user_id", "ts", "event_type",
                             tiebreak_col="event_id"),
        output_mode="update",
    )
    from pyspark.sql import Window

    # max-rev filter via a window, not a self-join: joining a memory-sink
    # view with its own aggregate trips conflicting-reference resolution
    w = Window.partitionBy("user_id")
    return (
        hist.withColumn("__mx", F.max("rev").over(w))
        .where(F.col("rev") == F.col("__mx"))
        .select(
            "user_id",
            "event_type",
            F.timestamp_micros(F.col("valid_from")).alias("valid_from"),
            F.timestamp_micros(F.col("valid_to")).alias("valid_to"),
            "n_events",
            "is_current",
        )
    )


def _stream_scd2_sql() -> str:
    from ..operators.temporal import build_scd2_sql

    return build_scd2_sql("events", "user_id", "ts", "event_type", "event_id")


def stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality sketch: distinct users per event type from
    O(k) state per type.  The stateful kernel emits the raw integer
    sketch; the estimate is derived here batch-side with the exact same
    formula/rounding as the batch kmv_distinct operator."""
    from ..functions.hashing import MINHASH_P
    from ..streaming.stream import streaming_kmv_state

    k = 64
    events = read_events_stream(spark, sf_dir)
    from pyspark.sql import Window

    sketch = run_to_memory(
        streaming_kmv_state(events, "event_type", "user_id", k=k),
        output_mode="update",
    )
    # one row per (group, microbatch) lands in the sink: keep only each
    # group's final revision (same discipline as stream_scd2)
    w = Window.partitionBy("event_type")
    sketch = sketch.withColumn("__mx", F.max("rev").over(w)).where(
        F.col("rev") == F.col("__mx")
    )
    return sketch.select(
        "event_type",
        "n_min",
        F.when(F.col("n_min") < k, F.col("n_min").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(k - 1))
                / (F.col("kth_min").cast("double") / F.lit(float(MINHASH_P))),
                4,
            )
        )
        .alias("est_distinct"),
    )


def _stream_kmv_sql() -> str:
    from ..functions.hashing import MINHASH_P
    from ..operators.sketches import kmv_hash_sql

    k = 64
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {kmv_hash_sql("user_id")} AS hh
  FROM events
  WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, hh,
         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
  FROM h
)
SELECT event_type, count(*) AS n_min,
       CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
            ELSE round({float(k - 1)} / (CAST(max(hh) AS DOUBLE) / {float(MINHASH_P)}), 4)
       END AS est_distinct
FROM r WHERE rn <= {k}
GROUP BY event_type
"""


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus governance applied on the ingest stream: per-row normalize +
    Gopher-style quality gate (stateless, identical code to the batch
    text_governance operators), aggregated to per-language keep rates in
    complete mode.  A document drop directory can be quality-gated as it
    lands, before anything downstream sees it."""
    from ..operators.corpus import normalize_text, quality_keep, quality_metrics
    from ..streaming.stream import read_documents_stream

    docs = read_documents_stream(spark, sf_dir)
    m = docs.select("lang", normalize_text(F.col("text")).alias("norm")).select(
        "lang", *quality_metrics(F.col("norm"))
    )
    flagged = m.withColumn(
        "keep",
        quality_keep(
            F.col("n_words"), F.col("mean_word_len"),
            F.col("frac_unique_words"), F.col("symbol_ratio"),
        ),
    )
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
    )
    return run_to_memory(agg)


def stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pii_redact on the INGEST stream (round 12 — the governance family's
    streaming twin, stream_decontaminate's pattern applied to redaction):
    per microbatch the stateless redaction projection (the exact batch
    expressions — seeding, regexp counts, global replace), folded by an
    additive per-source (docs, matches-per-kind, char mass before/after,
    residual docs) aggregate in complete mode.  Every component is a sum,
    so the drained census row-for-row equals the batch pii_redact report
    over the same documents — the shared oracle.  A drop directory gets
    its erasure proof as it lands, before anything downstream reads a raw
    address.  O(sources) state forever."""
    from ..operators.corpus import EMAIL_PATTERN, IPV4_PATTERN, redact_pii
    from ..streaming.stream import read_documents_stream
    from .corpus import _pii_seeded

    docs = read_documents_stream(spark, sf_dir)
    seeded = _pii_seeded(docs)
    n_email = F.regexp_count(F.col("text2"), F.lit(EMAIL_PATTERN))
    n_ip = F.regexp_count(F.col("text2"), F.lit(IPV4_PATTERN))
    red = redact_pii(F.col("text2"))
    redacted = seeded.select(
        "source", "text2", n_email.alias("ne"), n_ip.alias("ni"),
        red.alias("red"),
    )
    residual = (
        (F.regexp_count(F.col("red"), F.lit(EMAIL_PATTERN)) > 0)
        | (F.regexp_count(F.col("red"), F.lit(IPV4_PATTERN)) > 0)
    ).cast("long")
    agg = redacted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ne").alias("emails_redacted"),
        F.sum("ni").alias("ips_redacted"),
        F.sum(F.length("text2")).alias("chars_before"),
        F.sum(F.length("red")).alias("chars_after"),
        F.sum(residual).alias("n_residual_docs"),
    )
    return run_to_memory(agg)


def _stream_pii_redact_sql() -> str:
    from .corpus import _PII_REDACT_SQL

    return _PII_REDACT_SQL


_STREAM_QUALITY_GATE_SQL = """
WITH r AS (
  SELECT lang,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
m AS (
  SELECT lang,
         len(string_split(norm, ' ')) AS n_words,
         round(CAST(length(norm) - (len(string_split(norm, ' ')) - 1)
                    AS DOUBLE) / len(string_split(norm, ' ')), 6) AS mean_word_len,
         round(CAST(len(list_distinct(string_split(norm, ' ')))
                    AS DOUBLE) / len(string_split(norm, ' ')), 6) AS frac_unique_words,
         round(CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(norm), 6) AS symbol_ratio
  FROM r
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_words >= 8 AND n_words <= 100000
                 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                 AND frac_unique_words >= 0.2 AND symbol_ratio <= 0.3
            THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM m GROUP BY lang
"""


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the d x w cell counters are ADDITIVE,
    so the live sketch is a plain streaming aggregate — mergeable
    monotone state of fixed size (d*w counters) however long the stream
    runs, the streaming-native form of the batch cms_heavy_hitters
    operator (one definition of the cell addressing, shared).  The final
    probe joins the streamed sketch against the exact batch census so the
    one-sided estimate and its overestimate stay auditable."""
    from ..operators.sketches import cms_probe, cms_rows
    from ..sources.parquet import load_table

    width, k = 16, 10
    events = read_events_stream(spark, sf_dir)
    cells = events.select(
        F.explode(cms_rows(F.col("event_type"), width)).alias("__jc")
    ).select(F.col("__jc.j").alias("j"), F.col("__jc.cell").alias("cell"))
    sketch = run_to_memory(
        cells.groupBy("j", "cell").agg(F.count(F.lit(1)).alias("cms_cell"))
    )
    batch = load_table(spark, sf_dir, "events")
    census = batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    cand = census.orderBy(
        F.col("exact_n").desc(), F.col("event_type").asc()
    ).limit(k)
    return cms_probe(cand, sketch, "event_type", width)


def _stream_heavy_hitters_sql() -> str:
    from ..operators.sketches import cms_heavy_hitters_sql

    return cms_heavy_hitters_sql(
        "SELECT event_type FROM events", "event_type", width=16, k=10
    )


def stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live rolling z-score anomaly census (streaming twin of the batch
    zscore_anomalies query): per-user O(window) GroupState deque + the
    same pure-integer |z|>3 test, so streamed flags are bit-identical to
    the batch window — the oracle IS the batch SQL.  Counter updates are
    monotone; the max per key is the final state."""
    from ..streaming.stream import streaming_zscore_state

    events = read_events_stream(spark, sf_dir)
    per_user = run_to_memory(
        streaming_zscore_state(events), output_mode="update"
    )
    return per_user.groupBy("user_id").agg(
        F.max("n_tested").alias("n_tested"),
        F.max("n_anomalies").alias("n_anomalies"),
    )


def _stream_zscore_sql() -> str:
    from .analytics import _ZSCORE_SQL

    return _ZSCORE_SQL


def stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return run_to_memory(latest_by_key_agg(events))


def _stream_cdc_latest_sql() -> str:
    from ..operators.temporal import latest_by_key_sql

    return latest_by_key_sql(
        "events", "user_id", "ts", "event_id", ["event_type", "value"]
    )


def stream_cdc_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BUCKETED CDC mirror (streaming.stream.streaming_cdc_mirror,
    VERDICT r07 ask #5): events arrive over 4 microbatches; foreachBatch
    maintains an A/B-flipped bucketed managed target with broadcast-
    anti/semi merge discipline (per-batch exchanges move only batch-scale
    rows) and cross-batch last-writer-wins on the (ts, event_id) order
    key.  The drained mirror equals batch cdc_latest row-for-row — the
    shared oracle content-certifies the maintained table — and is
    join-ready on user_id with zero mirror-side exchanges (plan pinned
    by tests/test_cdc_mirror.py).  The replay guard is the PERSISTED
    epoch watermark (VERDICT r09 ask #4): each batch commits a one-row
    watermark beside the A/B cursor (fresh per-call state dir keeps the
    query deterministic; restart idempotence pinned by
    tests/test_cdc_mirror.py)."""
    import tempfile

    from ..sources.parquet import load_table
    from ..streaming.stream import streaming_cdc_mirror

    events = load_table(spark, sf_dir, "events")
    return streaming_cdc_mirror(
        spark, events, state_dir=tempfile.mkdtemp(prefix="cdc_wm_")
    )


def _stream_cdc_mirror_sql() -> str:
    from ..operators.temporal import latest_by_key_sql

    return latest_by_key_sql(
        "events", "user_id", "ts", "event_id", ["event_type", "value"]
    )


def stream_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE index maintenance (streaming.stream.streaming_index_update,
    VERDICT r07 ask #8 — artifacts x streaming): the IVF-PQ quantizer
    trains once on the base corpus (vec_id % 10 != 0) and persists;
    arrivals (vec_id % 10 == 0) stream in over 4 microbatches, each
    coarse-assigned + PQ-coded with the SAVED quantizer by pure Catalyst
    expressions and appended to the arrival-codes artifact.  The drained
    merged index hash-equals the batch contract 'train on base, code the
    union' — the production crawl-ingest loop, where retraining happens
    per corpus VERSION (the store's content token), never per batch."""
    from ..sinks.artifacts import artifact_store
    from ..sources.parquet import load_table
    from ..streaming.stream import streaming_index_update

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    return streaming_index_update(
        spark,
        base=emb.where(F.col("vec_id") % 10 != 0),
        arrivals=emb.where(F.col("vec_id") % 10 == 0),
        store=store,
    )


def _stream_index_update_sql() -> str:
    from ..operators.clustering import pq_codes_trained_on_sql

    return pq_codes_trained_on_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )


def stream_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END live-ingest -> batched-serve (VERDICT r08 ask #6): the
    streaming-maintained index IS the serving index.  The quantizer
    trains once on the base corpus (vec_id % 10 != 0) and persists;
    arrivals stream in and are coded per microbatch with the saved
    quantizer (streaming_index_update); then a 4-query batch is served
    by the SAME ADC plan as ivf_pq_batch (operators.clustering.
    ivf_pq_adc_batch) over the maintained base∪arrival code frame — one
    codes scan for all queries, the broadcast (query, cell, LUT) probe
    frame, per-query top-10 windows.  The oracle re-derives the whole
    contract in SQL: train on base, code the union, batch-ADC-search
    everything (ivf_pq_batch_trained_on_sql) — a driver hash pass proves
    the index a stream maintained serves queries exactly like a batch
    rebuild would."""
    from ..operators.clustering import _query_vectors, ivf_pq_adc_batch
    from ..sinks.artifacts import (
        artifact_store,
        load_coarse_centroids,
        load_pq_codebooks,
    )
    from ..sources.parquet import load_table
    from ..streaming.stream import streaming_index_update

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    merged = streaming_index_update(
        spark,
        base=emb.where(F.col("vec_id") % 10 != 0),
        arrivals=emb.where(F.col("vec_id") % 10 == 0),
        store=store,
    )
    cents = load_pq_codebooks(spark, store, name="sidx_codebooks")
    cell_ids, cvecs = load_coarse_centroids(spark, store, name="sidx_centroids")
    queries = _query_vectors(emb, 4, "embedding", "vec_id", 4, 16)
    return ivf_pq_adc_batch(
        spark, merged, cents, cell_ids, cvecs, queries, topk=10, n_probe=2
    )


def _stream_index_search_sql() -> str:
    from ..operators.clustering import ivf_pq_batch_trained_on_sql

    return ivf_pq_batch_trained_on_sql(
        table="embeddings",
        train_where="vec_id % 10 <> 0",
        n_queries=4,
        topk=10,
        n_cells=8,
        n_probe=2,
    )


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE index-staleness monitoring — index_drift_report's streaming
    twin, completing the retrain-trigger story (r9: the content token
    answers 'did the corpus change', the drift gauge answers 'did it
    change enough to hurt the index', and THIS keeps that answer current
    while arrivals stream in): arrivals (vec_id % 10 == 0) are
    coarse-assigned to the base-trained quantizer's cells per microbatch
    by the same pure-Catalyst argmin, and the per-cell arrival counts
    fold as a streaming aggregate — O(cells) state forever, count
    addition IS the merge.  The drained arrival census joins the
    batch-side base census into the exact integer-ppm drift report, so
    the result row-for-row equals batch coarse_cell_drift over the full
    corpus — the shared oracle."""
    from ..operators.clustering import _cell_assign_expr, _coarse_centroids
    from ..session import leg_session
    from ..sources.parquet import load_table
    from ..streaming.stream import read_documents_stream_chunked

    from concurrent.futures import ThreadPoolExecutor

    emb = load_table(spark, sf_dir, "embeddings")
    base_where = F.col("vec_id") % 10 != 0
    base = emb.where(base_where)
    m, sub_dim, n_cells = 4, 16, 8
    # The drain runs on a private session clone: run_to_memory narrows the
    # session-wide shuffle width around the drain, and the base census
    # plans on the caller's session at the same time.
    drain_session = leg_session(spark)

    def with_cell(df: DataFrame) -> DataFrame:
        valid = df.where(
            F.col("embedding").isNotNull()
            & (F.size("embedding") >= m * sub_dim)
        ).select(
            "vec_id",
            *[
                F.slice(F.col("embedding"), s * sub_dim + 1, sub_dim).alias(
                    f"__sub{s}"
                )
                for s in range(m)
            ],
        )
        return valid.withColumn(
            "cell", _cell_assign_expr(cell_ids, cvecs, m, sub_dim)
        )

    def base_census():
        # metadata-scale: <= n_cells census rows
        return (
            with_cell(base)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_base"))
            .collect()
        )

    with ThreadPoolExecutor(max_workers=1) as _pool:
        # quantizer training (driver-paced collects) and the arrival-chunk
        # scratch write are independent legs — overlap them (guide §2.6)
        _arr_fut = _pool.submit(
            read_documents_stream_chunked,
            drain_session,
            emb.where(~base_where),
            4,
        )
        cell_ids, cvecs = _coarse_centroids(
            base, n_cells, "embedding", "vec_id", m, sub_dim
        )
        arrivals = _arr_fut.result()
        # the base census and the drain are independent too
        _base_fut = _pool.submit(base_census)
        live = (
            with_cell(arrivals)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_arr"))
        )
        # state is <= n_cells rows by construction -> n_cells state partitions
        drained = run_to_memory(
            live, output_mode="complete", state_partitions=n_cells
        )
        # both censuses are <= n_cells rows — the report FINISH is
        # metadata-scale driver arithmetic (the mmr_rerank/centroids
        # contract), and pure integer, so it hash-checks.  Every cell an
        # arrival can land in holds its own centroid, which is a BASE row by
        # construction, so driving off the base census loses no cell.
        arr = {r["cell"]: r["n_arr"] for r in drained.collect()}
        cells = {r["cell"]: int(r["n_base"]) for r in _base_fut.result()}
    tb = sum(cells.values())
    ta = tb + sum(arr.values())
    rows = []
    for cell in sorted(cells):
        n_base = cells[cell]
        n_all = n_base + int(arr.get(cell, 0))
        sb = 1_000_000 * n_base // tb
        sa = 1_000_000 * n_all // ta
        rows.append((cell, n_base, n_all, sb, sa, abs(sa - sb)))
    return arrow_frame(
        spark,
        rows,
        "cell long, n_base long, n_all long, share_base_ppm long, "
        "share_all_ppm long, share_drift_ppm long",
    )


def _stream_drift_monitor_sql() -> str:
    from ..operators.clustering import coarse_cell_drift_sql

    return coarse_cell_drift_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )


def stream_distortion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE codebook-fit monitoring — index_distortion_report's streaming
    twin, completing the two-axis retrain trigger the way
    stream_drift_monitor completed the occupancy axis (occupancy answers
    'did the data move between cells', distortion answers 'do the
    codebooks still fit the data INSIDE each cell'; both now have a
    batch gauge and a live monitor): arrivals (vec_id % 10 == 0) run
    through the base-trained distortion projection per microbatch
    (operators.clustering.distortion_frame — pure Catalyst, the exact
    ADC error integer-quantized at 1e6) and fold as a per-cell (count,
    exact sum) streaming aggregate — O(cells) state forever, count and
    sum ARE the merge.  The drained arrival census joins the batch-side
    base census into the same integer report as the batch gauge, so the
    result row-for-row equals pq_distortion_report over the full corpus
    — the shared oracle."""
    from ..operators.clustering import (
        _coarse_centroids,
        distortion_frame,
        pq_train_assign,
    )
    from ..sources.parquet import load_table
    from ..streaming.stream import read_documents_stream_chunked

    from concurrent.futures import ThreadPoolExecutor

    emb = load_table(spark, sf_dir, "embeddings")
    base_where = F.col("vec_id") % 10 != 0
    base = emb.where(base_where)
    m, k, sub_dim, n_cells = 4, 4, 16, 8
    # codebook/centroid training (driver-paced collects) overlaps the
    # arrival-chunk scratch write (guide §2.6)
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _arr_fut = _pool.submit(
            read_documents_stream_chunked, spark, emb.where(~base_where), 4
        )
        _, cents = pq_train_assign(base, "embedding", "vec_id", m, k, sub_dim)
        cell_ids, cvecs = _coarse_centroids(
            base, n_cells, "embedding", "vec_id", m, sub_dim
        )
        arrivals = _arr_fut.result()
    live = (
        distortion_frame(
            arrivals, cents, cell_ids, cvecs, "embedding", "vec_id",
            m, sub_dim,
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_arr"),
            F.sum("__q").alias("sum_arr"),
        )
    )
    # state is <= n_cells rows by construction -> n_cells state partitions
    drained = run_to_memory(live, output_mode="complete", state_partitions=n_cells)

    base_per = (
        distortion_frame(
            base, cents, cell_ids, cvecs, "embedding", "vec_id", m, sub_dim
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_base"),
            F.sum("__q").alias("sum_base"),
        )
    )
    # both censuses are <= n_cells rows — the report FINISH is
    # metadata-scale driver arithmetic, pure integer, so it hash-checks.
    # Every cell an arrival can land in holds its own centroid, which is
    # a BASE row by construction, so driving off the base census loses
    # no cell (stream_drift_monitor's argument).
    # metadata-scale: <= n_cells census rows
    arr = {
        r["cell"]: (int(r["n_arr"]), int(r["sum_arr"]))
        for r in drained.collect()
    }
    rows = []
    # metadata-scale: <= n_cells census rows
    for r in sorted(base_per.collect(), key=lambda r: r["cell"]):
        cell, nb, sb = r["cell"], int(r["n_base"]), int(r["sum_base"])
        na, sa = arr.get(cell, (0, 0))
        n_all, s_all = nb + na, sb + sa
        mb = sb // nb
        ma = s_all // n_all
        rows.append((cell, nb, n_all, mb, ma, abs(ma - mb)))
    return arrow_frame(
        spark,
        rows,
        "cell long, n_base long, n_all long, mean_dist_base_u long, "
        "mean_dist_all_u long, dist_drift_u long",
    )


def _stream_distortion_monitor_sql() -> str:
    from ..operators.clustering import pq_distortion_report_sql

    return pq_distortion_report_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )


# per label, the first _MARGIN_REF_PER_LABEL base vectors (by id) form the
# frozen reference set — O(labels x R) rows by design, so the reference
# matrix rides into the kernel under the bench_contamination broadcast
# contract at any corpus size
_MARGIN_REF_PER_LABEL = 20


def stream_margin_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE embedding-separability monitoring — embedding_margin_stats'
    streaming twin, and the THIRD retrain trigger: stream_drift_monitor
    watches the index's occupancy, stream_distortion_monitor watches its
    codebooks, and THIS watches the ENCODER — are arriving vectors still
    separable by label against a frozen per-label reference set, or has
    the upstream embedding model (or the data) drifted until wrong-label
    references outscore right-label ones?

    Per microbatch, each arrival scores against the reference matrix in
    a STATELESS Arrow kernel (the bench_contamination shape: the
    reference is labels x R rows by construction, driver-held, one
    sequential-fold pass per batch, zero shuffles) emitting
    (label, margin_ppm) with margin = max same-label cosine minus max
    different-label cosine, floor-quantized to integer ppm; the single
    stateful operator is a per-label (count, negatives, sum, min, max)
    aggregate — O(labels) state forever, every component mergeable.
    Margins are independent per arrival, so the drained result equals
    the batch computation whatever the microbatch placement — the SQL
    oracle computes the same census over the arrival split directly."""
    import numpy as np
    import pandas as pd

    from ..sources.parquet import load_table
    from ..streaming.stream import read_documents_stream_chunked

    from concurrent.futures import ThreadPoolExecutor

    emb = load_table(spark, sf_dir, "embeddings")
    base_where = F.col("vec_id") % 10 != 0
    from pyspark.sql import Window as _W

    # the reference-matrix collect and the arrival-chunk scratch write
    # are independent legs — overlap them (guide §2.6)
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _arr_fut = _pool.submit(
            read_documents_stream_chunked, spark, emb.where(~base_where), 4
        )
        # metadata-scale: labels x R reference rows by construction
        ref_rows = (
            emb.where(base_where)
            .withColumn(
                "__rn",
                F.row_number().over(
                    _W.partitionBy("label").orderBy(F.col("vec_id").asc())
                ),
            )
            .where(F.col("__rn") <= _MARGIN_REF_PER_LABEL)
            .select("label", "embedding")
            .collect()
        )
        arrivals = _arr_fut.result()
    rlabels = np.array([r[0] for r in ref_rows])
    rmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in ref_rows])
    # reference norms via the same sequential fold as the kernel below
    nr, dim = rmat.shape
    racc = np.zeros(nr, dtype=np.float64)
    for d in range(dim):
        racc = racc + rmat[:, d] * rmat[:, d]
    rnorm = np.sqrt(racc)
    # zero-norm references can never win a max (their cosine is NaN on
    # both engines); drop them from the matrix once, here
    keep = rnorm > 0.0
    rlabels, rmat, rnorm = rlabels[keep], rmat[keep], rnorm[keep]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            alab = pdf["label"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nb = mat.shape[0]
            acc = np.zeros((nb, rmat.shape[0]), dtype=np.float64)
            nacc = np.zeros(nb, dtype=np.float64)
            for d in range(dim):
                acc = acc + mat[:, d][:, None] * rmat[:, d][None, :]
                nacc = nacc + mat[:, d] * mat[:, d]
            cos = acc / (np.sqrt(nacc)[:, None] * rnorm[None, :])
            keep_rows, out_m = [], []
            for i in range(nb):
                same = rlabels == alab[i]
                ci = cos[i]
                pos_c = ci[same & ~np.isnan(ci)]
                neg_c = ci[~same & ~np.isnan(ci)]
                if not len(pos_c) or not len(neg_c):
                    continue
                margin = float(np.max(pos_c)) - float(np.max(neg_c))
                keep_rows.append(i)
                out_m.append(int(np.floor(margin * 1000000.0)))
            # the label rides through with its NATIVE dtype (ADVICE r10
            # #3): slice the incoming Series instead of re-casting to
            # int, so a string/decimal label column degrades to the same
            # census rather than crashing the kernel
            yield pd.DataFrame(
                {"label": pdf["label"].iloc[keep_rows].reset_index(drop=True),
                 "margin_ppm": pd.array(out_m, dtype="int64")}
            )

    from pyspark.sql.types import LongType, StructField, StructType

    # output label field type derived from the input schema, not assumed
    out_schema = StructType(
        [
            StructField("label", emb.schema["label"].dataType, True),
            StructField("margin_ppm", LongType(), True),
        ]
    )
    margins = arrivals.select("label", "embedding").mapInPandas(
        score, out_schema
    )
    live = margins.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.sum((F.col("margin_ppm") < 0).cast("long")).alias(
            "n_negative_margin"
        ),
        F.sum("margin_ppm").alias("sum_margin_ppm"),
        F.min("margin_ppm").alias("min_margin_ppm"),
        F.max("margin_ppm").alias("max_margin_ppm"),
    )
    # state is O(labels) rows by design -> label-scale state partitions
    return run_to_memory(live, output_mode="complete", state_partitions=8)


def _stream_margin_monitor_sql() -> str:
    from .llm import _dot_sql

    return f"""
WITH ref AS (
  SELECT label AS rlab, embedding AS rv FROM (
    SELECT label, embedding,
           row_number() OVER (PARTITION BY label
                              ORDER BY vec_id ASC) AS rn
    FROM embeddings WHERE vec_id % 10 <> 0) r
  WHERE rn <= {_MARGIN_REF_PER_LABEL}),
arr AS (SELECT vec_id, label AS alab, embedding AS av FROM embeddings
        WHERE vec_id % 10 = 0),
scored AS (
  SELECT a.vec_id, a.alab, r.rlab,
         {_dot_sql("r.rv", "a.av")}
           / (sqrt({_dot_sql("r.rv", "r.rv")}) * sqrt({_dot_sql("a.av", "a.av")}))
           AS cosine
  FROM arr a CROSS JOIN ref r),
per AS (
  SELECT vec_id, alab,
         max(CASE WHEN rlab = alab AND NOT isnan(cosine) THEN cosine END)
           AS pos_cos,
         max(CASE WHEN rlab <> alab AND NOT isnan(cosine) THEN cosine END)
           AS neg_cos
  FROM scored GROUP BY vec_id, alab),
m AS (
  SELECT alab AS label,
         CAST(floor((pos_cos - neg_cos) * 1000000.0) AS BIGINT)
           AS margin_ppm
  FROM per WHERE pos_cos IS NOT NULL AND neg_cos IS NOT NULL)
SELECT label,
       count(*) AS n_arrivals,
       CAST(sum(CASE WHEN margin_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative_margin,
       CAST(sum(margin_ppm) AS BIGINT) AS sum_margin_ppm,
       min(margin_ppm) AS min_margin_ppm,
       max(margin_ppm) AS max_margin_ppm
FROM m GROUP BY label
"""


def stream_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE self-maintaining-index loop in one query (round 10 —
    composing r8's live maintenance, r9's drift sensing, and r10's
    retrain action): drifted arrivals (the +4.0-shifted rows) stream
    into a base-trained index per microbatch (streaming_index_update on
    a dedicated ``strbase`` prefix — the shared sidx state is never
    touched), the drift gauge reads the MAINTAINED codes
    (codes_cell_drift over base∪arrival codes, one n_cells-row integer
    aggregate), and the measured ~15% drift exceeds the 50k-ppm
    threshold — so the quantizer retrains on the full drifted corpus,
    re-codes, commits the staged ``strlive`` triple and swaps via
    finish_index_retrain, and the 4-query batch serves from the
    RETRAINED index.  Hash-equal to a batch build trained on the full
    corpus (the oracle's Lloyd CTEs over the drifted-corpus derived
    table) — a driver pass proves sense->decide->retrain->serve end to
    end over a stream-maintained index."""
    from ..operators.clustering import (
        _query_vectors,
        build_index_triple,
        codes_cell_drift,
        finish_index_retrain,
        ivf_pq_adc_batch,
        ivf_pq_serve_batch,
    )
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_coarse_centroids,
        load_pq_codebooks,
    )
    from ..streaming.stream import streaming_index_update
    from .llm import _drifted_corpus

    corpus = _drifted_corpus(spark, sf_dir)
    base_where = F.col("vec_id") % 10 != 0
    store = artifact_store(sf_dir)
    merged = streaming_index_update(
        spark,
        base=corpus.where(base_where),
        arrivals=corpus.where(F.col("vec_id") % 10 == 0),
        store=store,
        prefix="strbase",
    )
    # metadata-scale: 1-row drift total over the <= n_cells census
    drift_rows = codes_cell_drift(merged, base_where).agg(
        F.sum("share_drift_ppm").alias("total")
    ).collect()
    total_drift = int(drift_rows[0]["total"] or 0)
    retrained = total_drift > 50_000
    queries = _query_vectors(corpus, 4, "embedding", "vec_id", 4, 16)
    if retrained:
        # the fixture's engineered drift always lands here: retrain on
        # the CURRENT corpus via the staged-triple swap protocol
        # (build-once gated — the retrained quantizer is deterministic)
        if not has_artifact(store, "strlive_codes"):
            build_index_triple(
                spark, corpus, corpus, store, "strlive", staged=True
            )
            finish_index_retrain(store, "strlive")
        serve = ivf_pq_serve_batch(
            spark, store, queries, topk=10, n_probe=2,
            codes_name="strlive_codes",
            centroids_name="strlive_centroids",
            codebooks_name="strlive_codebooks",
        )
    else:
        # below threshold: keep serving the streaming-maintained index
        # (base-trained quantizer over the merged base∪arrival codes)
        cents = load_pq_codebooks(spark, store, name="strbase_codebooks")
        cell_ids, cvecs = load_coarse_centroids(
            spark, store, name="strbase_centroids"
        )
        serve = ivf_pq_adc_batch(
            spark, merged, cents, cell_ids, cvecs, queries,
            topk=10, n_probe=2,
        )
    return serve.select(
        "*",
        F.lit(total_drift).cast("long").alias("drift_ppm"),
        F.lit(bool(retrained)).alias("retrained"),
    )


def _stream_index_retrain_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_batch_sql
    from .llm import _DRIFTED_CORPUS_SQL, _retrain_drift_scalar_sql

    serve = ivf_pq_ann_batch_sql(
        table=_DRIFTED_CORPUS_SQL, n_queries=4, topk=10, n_cells=8,
        n_probe=2,
    )
    return f"""
SELECT r.query_id, r.vec_id, r.cell, r.adc_dist, r.rn,
       d.total AS drift_ppm, d.total > 50000 AS retrained
FROM ({serve}) r, {_retrain_drift_scalar_sql()} d
"""


def _index_cdc_changes(emb: DataFrame) -> DataFrame:
    """The op-typed CDC fixture the delete-aware index queries share:
    upserts are the arrival rows (vec_id % 10 = 0, the siblings'
    base/arrival split), deletes are every vec_id % 7 = 0 — a set that
    deliberately straddles all three classes (base rows like 7 and 21,
    arrival rows like 70 and 140, and id 0, which is both an arrival
    and a query vector), so the drained view exercises delete-before-
    upsert, delete-of-base, and delete-of-never-upserted in one run."""
    ups = (
        emb.where(F.col("vec_id") % 10 == 0)
        .withColumn("op", F.lit("u"))
    )
    dels = (
        emb.where(F.col("vec_id") % 7 == 0)
        .withColumn("op", F.lit("d"))
    )
    return ups.unionByName(dels)


def stream_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming index takes DELETES — the last CRUD letter (r8
    update, r9 end-to-end search, r10 drift-triggered retrain; a
    production vector store also erases: right-to-erasure, retractions,
    decontamination purges).  Base (vec_id % 10 != 0) trains and
    persists the quantizer; an op-typed CDC stream (upserts = arrival
    rows, deletes = vec_id % 7 = 0) drains over 4 microbatches on the
    dedicated ``sidxd`` prefix — upsert batches code-and-append with the
    saved quantizer, delete batches append id-only tombstones
    (streaming.stream.streaming_index_cdc).  The serve view is
    (base ∪ arrivals) ANTI JOIN tombstones — tombstone wins regardless
    of microbatch placement, so the drained view is order-free and
    replay-idempotent — and a 4-query ADC batch serves from it: deleted
    ids can never rank, survivors below them move up.  The oracle is the
    train-on-base / code-the-union batched ADC with the delete predicate
    excluded before ranking (ivf_pq_batch_trained_on_sql serve_where)."""
    from ..operators.clustering import _query_vectors, ivf_pq_adc_batch
    from ..sinks.artifacts import (
        artifact_store,
        load_coarse_centroids,
        load_pq_codebooks,
    )
    from ..sources.parquet import load_table
    from ..streaming.stream import streaming_index_cdc

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    served = streaming_index_cdc(
        spark,
        base=emb.where(F.col("vec_id") % 10 != 0),
        changes=_index_cdc_changes(emb),
        store=store,
        prefix="sidxd",
    )
    cents = load_pq_codebooks(spark, store, name="sidxd_codebooks")
    cell_ids, cvecs = load_coarse_centroids(
        spark, store, name="sidxd_centroids"
    )
    queries = _query_vectors(emb, 4, "embedding", "vec_id", 4, 16)
    return ivf_pq_adc_batch(
        spark, served, cents, cell_ids, cvecs, queries, topk=10, n_probe=2
    )


def _stream_index_delete_sql() -> str:
    from ..operators.clustering import ivf_pq_batch_trained_on_sql

    return ivf_pq_batch_trained_on_sql(
        table="embeddings",
        train_where="vec_id % 10 <> 0",
        n_queries=4,
        topk=10,
        n_cells=8,
        n_probe=2,
        serve_where="fc0.vid % 7 <> 0",
    )


def stream_index_delete_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the tombstone-aware serve vs the exact L2
    top-10 AMONG SURVIVORS — the quality gauge every approximate read
    path in this repo ships with, applied to deletes: removing rows
    thins every probed cell, so cell-pruning loss can shift under
    deletion exactly as it does under a predicate (ann_filtered_recall),
    and this measures it.  One exact pass: the 4-query frame broadcasts
    into a cross join over the surviving rows (vec_id % 7 != 0) and one
    window ranks all queries."""
    from pyspark.sql import Window as _W

    from ..operators.clustering import _sq_dist
    from ..sources.parquet import load_table

    approx = stream_index_delete(spark, sf_dir).select("query_id", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= 64)
    )
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.broadcast(
        valid.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), vec.alias("__qv")
        )
    )
    w = _W.partitionBy("query_id").orderBy("d", F.col("vec_id").asc())
    exact = (
        valid.where(F.col("vec_id") % 7 != 0)
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            F.expr(
                sqlexpr.sq_dist(
                    sqlexpr.to_double_arr("`embedding`"), "`__qv`"
                )
            ).alias("d"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        q.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.lit(10).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.expr(
                "1000000 * coalesce(n_hit, CAST(0 AS BIGINT)) DIV 10"
            ).cast("long").alias("recall_ppm"),
        )
    )


def _stream_index_delete_recall_sql() -> str:
    dist = (
        "list_sum(list_transform(generate_series(1, len(e.v)), "
        "i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])))"
    )
    return f"""
WITH approx AS (
  SELECT query_id, vec_id FROM ({_stream_index_delete_sql()}) i
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings
  WHERE vec_id < 4 AND embedding IS NOT NULL AND len(embedding) >= 64
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE vec_id % 7 <> 0 AND embedding IS NOT NULL AND len(embedding) >= 64
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {dist}, e.vec_id) AS rn
    FROM e CROSS JOIN q) r
  WHERE rn <= 10
),
hits AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM approx JOIN exact USING (query_id, vec_id)
  GROUP BY query_id
)
SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       coalesce(h.n_hit, 0) AS n_hit,
       CAST(1000000 * coalesce(h.n_hit, 0) // 10 AS BIGINT) AS recall_ppm
FROM q LEFT JOIN hits h USING (query_id)
"""


def index_tombstone_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PHYSICAL purge behind stream_index_delete's logical
    tombstones, reported as a per-cell census: drain the same op-typed
    CDC stream, then run the compaction that folds arrivals AND
    anti-joins tombstones out inside one committed swap
    (compact_streaming_index — crash anywhere replays the finish from
    the committed next, so deletes and the artifact drop are atomic
    together).  Output per cell: rows folded (base ∪ arrivals), rows
    purged (tombstoned ids the index actually held), rows remaining in
    the compacted artifact — the governance view an erasure pipeline
    reads to prove deletion happened.

    Rerun-deterministic by the clone seam (index_retrain's discipline):
    the quantizer + base codes build ONCE gated under ``sidxp0`` and are
    hardlink-cloned to the working ``sidxp`` prefix per call, so the
    destructive compaction genuinely executes every run against
    byte-identical inputs."""
    from ..sinks.artifacts import (
        artifact_store,
        clone_artifact,
        load_artifact,
    )
    from ..sources.parquet import load_table
    from ..streaming.stream import (
        compact_streaming_index,
        streaming_index_cdc,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    base = emb.where(F.col("vec_id") % 10 != 0)
    # build-once under the gated prefix (no arrivals drained here — this
    # call just guarantees the triple exists), then clone the mutable
    # parts to the working prefix so every run starts from the same bytes
    from ..streaming.stream import _ensure_index_artifacts

    _ensure_index_artifacts(
        spark, base, store, "embedding", "vec_id", 8, 4, 4, 16, "sidxp0"
    )
    for part in ("codes", "centroids", "codebooks"):
        clone_artifact(store, f"sidxp0_{part}", f"sidxp_{part}")
    streaming_index_cdc(
        spark,
        base=base,
        changes=_index_cdc_changes(emb),
        store=store,
        prefix="sidxp",
    )
    folded = load_artifact(spark, store, "sidxp_codes").unionByName(
        load_artifact(spark, store, "sidxp_arrival_codes")
    )
    tombs = load_artifact(spark, store, "sidxp_tombstones").distinct()
    # MATERIALIZE the pre-compaction censuses before the swap deletes and
    # replaces the artifacts they scan (lazy frames would read the
    # compacted state — or a removed path).  Both are <= n_cells rows,
    # the metadata-scale collect contract.
    # ONE pass computes both: tombs is distinct, so a broadcast left join
    # keeps multiplicity 1 and count(indicator) IS the semi-join count —
    # the folded artifact scans once instead of twice (metadata-scale
    # result either way: <= n_cells census rows).
    pre_rows = (
        folded.join(
            F.broadcast(tombs.withColumn("__t", F.lit(1))), "vec_id", "left"
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("__t").alias("np"),
        )
        .collect()
    )
    pre = {r["cell"]: int(r["n"]) for r in pre_rows}
    purged = {r["cell"]: int(r["np"]) for r in pre_rows if int(r["np"])}
    compact_streaming_index(spark, store, prefix="sidxp")
    # metadata-scale: <= n_cells census rows
    post = {
        r["cell"]: int(r["n"])
        for r in load_artifact(spark, store, "sidxp_codes")
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = [
        (cell, pre[cell], purged.get(cell, 0), post.get(cell, 0))
        for cell in sorted(pre)
    ]
    return arrow_frame(
        spark, rows, "cell long, n_folded long, n_purged long, n_after long"
    )


def _index_tombstone_purge_sql() -> str:
    from ..operators.clustering import pq_codes_trained_on_sql

    codes = pq_codes_trained_on_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )
    return f"""
WITH codes AS ({codes})
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_folded,
       CAST(count(*) FILTER (WHERE vec_id % 7 = 0) AS BIGINT) AS n_purged,
       CAST(count(*) FILTER (WHERE vec_id % 7 <> 0) AS BIGINT) AS n_after
FROM codes GROUP BY cell
"""


_SCS_CAP = 60


def stream_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_balanced_sample's STREAMING twin — the diversity sampler
    kept current as the corpus streams in: topic centroids train
    batch-side on the BASE split (vec_id % 10 != 0 — the per-corpus-
    version training discipline every streaming index query uses), the
    full corpus then streams through per-microbatch coarse assignment
    (pure-Catalyst argmin against the driver-held centroids) plus the
    batch sampler's exact salted poly_hash, and a bounded per-cluster
    GroupState keeps the cap smallest (hash, id) pairs — KMV's
    mergeable-state shape, O(k x cap) forever
    (streaming.stream.streaming_cluster_sample_state).  The drained
    sample row-for-row equals the batch ranker over base-trained
    assignments: k-min of a union is k-min of merged sets, so microbatch
    placement cannot change what survives."""
    from pyspark.sql import Window as _W

    from ..functions.hashing import poly_hash
    from ..operators.clustering import _assign, _lloyd_centroids
    from ..sources.parquet import load_table
    from ..streaming.stream import (
        read_documents_stream_chunked,
        streaming_cluster_sample_state,
    )

    from concurrent.futures import ThreadPoolExecutor

    emb = load_table(spark, sf_dir, "embeddings")
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    # Lloyd training (driver-paced collects) overlaps the corpus-chunk
    # scratch write (guide §2.6)
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _stream_fut = _pool.submit(
            read_documents_stream_chunked, spark, valid, 4
        )
        cents = _lloyd_centroids(
            valid.where(F.col("vec_id") % 10 != 0), 8, 2, "embedding", "vec_id"
        )
        stream = _stream_fut.result()
    hv = poly_hash(
        F.concat(F.col("vec_id").cast("string"), F.lit("#scs"))
    )
    rows = _assign(stream, cents, "embedding").select(
        F.col("__cid").alias("cluster_id"), hv.alias("hv"), "vec_id"
    )
    # state is one row per cluster (k=8 by construction)
    sketch = run_to_memory(
        streaming_cluster_sample_state(rows, cap=_SCS_CAP),
        output_mode="update",
        state_partitions=8,
    )
    # one row per (cluster, microbatch) lands in the sink: keep each
    # cluster's final revision (stream_kmv's discipline), then explode
    # the ordered sample back to ranked rows — position IS the rank
    w = _W.partitionBy("cluster_id")
    final = sketch.withColumn("__mx", F.max("rev").over(w)).where(
        F.col("rev") == F.col("__mx")
    )
    return final.select(
        "cluster_id",
        F.col("n_seen").alias("n_in_cluster"),
        F.posexplode("ids").alias("__pos", "vec_id"),
    ).select(
        "vec_id",
        F.col("cluster_id").cast("int"),
        (F.col("__pos") + 1).cast("int").alias("sample_rank"),
        "n_in_cluster",
    )


def _stream_cluster_sample_sql() -> str:
    from ..functions.hashing import poly_hash_sql
    from ..operators.clustering import _lloyd_cte_parts

    parts = _lloyd_cte_parts(
        "(SELECT * FROM embeddings WHERE vec_id % 10 <> 0)",
        8, 2, "embedding", "vec_id",
    )
    ph = poly_hash_sql("CAST(vid AS VARCHAR) || '#scs'")
    dist = (
        "list_sum(list_transform(generate_series(1, len(v.e)), "
        "i -> (v.e[i] - p.c[i]) * (v.e[i] - p.c[i])))"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
fa AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
),
fd AS (SELECT v.vec_id AS vid, p.cid, {dist} AS d FROM fa v, c2 p),
fass AS (
  SELECT vid, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM fd)
  WHERE rn = 1
),
siz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_in_cluster
        FROM fass GROUP BY cid),
r AS (
  SELECT vid, cid,
         CAST(row_number() OVER (PARTITION BY cid ORDER BY {ph}, vid)
              AS INTEGER) AS sample_rank
  FROM fass
)
SELECT r.vid AS vec_id, CAST(r.cid AS INTEGER) AS cluster_id,
       r.sample_rank, s.n_in_cluster
FROM r JOIN siz s ON s.cid = r.cid
WHERE r.sample_rank <= {_SCS_CAP}"""
    )


def contamination_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETECTOR-DRIVEN ERASURE, end to end — the reason a vector store
    needs deletes at all, composed from four proven pieces: the semantic
    contamination screen finds the corpus vectors sitting next to the
    benchmark (bench_contamination, semantic_decontaminate's kernel),
    those ids stream into the live index as CDC DELETES alongside the
    normal upsert arrivals (streaming_index_cdc on the dedicated
    ``sidxe`` prefix), compaction makes the erasure physical inside one
    committed swap (compact_streaming_index's tombstone fold), and the
    4-query ADC batch then serves FROM THE PURGED ARTIFACT — proving the
    contaminated vectors can no longer rank.  ``n_erased`` rides every
    row as a checked column binding the screen to the purge (every
    screened id is a coded corpus row, so erased count == screen count).
    Rerun-deterministic by the clone seam: the gated ``sidxe0`` triple
    hardlink-clones to the working prefix per call, so the destructive
    compaction genuinely executes every run.  The oracle re-derives the
    whole loop: train-on-base / code-the-union batched ADC with the
    screen's id set excluded before ranking (serve_where NOT IN the
    contamination CTE)."""
    from ..operators.clustering import _query_vectors, ivf_pq_adc_batch
    from ..operators.similarity import bench_contamination
    from ..sinks.artifacts import (
        artifact_store,
        clone_artifact,
        load_artifact,
        load_coarse_centroids,
        load_pq_codebooks,
    )
    from ..sources.parquet import load_table
    from ..streaming.stream import (
        _ensure_index_artifacts,
        compact_streaming_index,
        streaming_index_cdc,
    )

    from concurrent.futures import ThreadPoolExecutor

    from ..operators.caching import materialized

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    # The contamination SCREEN and the base index BUILD are independent
    # legs of the erasure chain (guide §2.6) — the screen needs only the
    # corpus/bench split, the build only the base split — so the screen
    # runs eagerly on a worker thread while the main thread ensures the
    # gated triple and clones it.  Materializing the screen also makes
    # its two consumers (the CDC delete rows and the n_erased witness
    # count) read ONE result-scale id list instead of executing the
    # kernel twice.  Values unchanged.
    def screen():
        return materialized(
            bench_contamination(
                corpus=emb.filter(F.col("vec_id") % 20 != 0),
                bench=emb.filter(F.col("vec_id") % 20 == 0),
                threshold=0.35,
            ).select("vec_id"),
            eager=True,
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        cont_fut = pool.submit(screen)
        base = emb.where(F.col("vec_id") % 10 != 0)
        _ensure_index_artifacts(
            spark, base, store, "embedding", "vec_id", 8, 4, 4, 16, "sidxe0"
        )
        for part in ("codes", "centroids", "codebooks"):
            clone_artifact(store, f"sidxe0_{part}", f"sidxe_{part}")
        cont = cont_fut.result()
    # the screen's output is result-scale: the semi-join below broadcasts
    # it back into the corpus to build the delete rows
    dels = emb.join(F.broadcast(cont), "vec_id", "semi").withColumn(
        "op", F.lit("d")
    )
    ups = emb.where(F.col("vec_id") % 10 == 0).withColumn("op", F.lit("u"))
    streaming_index_cdc(
        spark,
        base=base,
        changes=ups.unionByName(dels),
        store=store,
        prefix="sidxe",
    )
    n_erased = cont.count()
    compact_streaming_index(spark, store, prefix="sidxe")
    codes = load_artifact(spark, store, "sidxe_codes")
    cents = load_pq_codebooks(spark, store, name="sidxe_codebooks")
    cell_ids, cvecs = load_coarse_centroids(
        spark, store, name="sidxe_centroids"
    )
    queries = _query_vectors(emb, 4, "embedding", "vec_id", 4, 16)
    serve = ivf_pq_adc_batch(
        spark, codes, cents, cell_ids, cvecs, queries, topk=10, n_probe=2
    )
    return serve.select(
        "*", F.lit(n_erased).cast("long").alias("n_erased")
    )


def _contamination_erasure_sql() -> str:
    from ..operators.clustering import ivf_pq_batch_trained_on_sql
    from .llm import _SEMANTIC_DECONTAMINATE_SQL

    serve = ivf_pq_batch_trained_on_sql(
        table="embeddings",
        train_where="vec_id % 10 <> 0",
        n_queries=4,
        topk=10,
        n_cells=8,
        n_probe=2,
        serve_where=(
            "fc0.vid NOT IN (SELECT vec_id FROM "
            f"({_SEMANTIC_DECONTAMINATE_SQL}) cont)"
        ),
    )
    return f"""
SELECT r.query_id, r.vec_id, r.cell, r.adc_dist, r.rn, d.n_erased
FROM ({serve}) r CROSS JOIN
     (SELECT CAST(count(*) AS BIGINT) AS n_erased
      FROM ({_SEMANTIC_DECONTAMINATE_SQL}) c) d
"""


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE benchmark screening — semantic_decontaminate's streaming
    twin, the shape a crawl pipeline actually runs it in (screen every
    incoming batch against the FIXED eval suite before it enters the
    corpus): the bench matrix is collected once and rides into the
    stateless Arrow kernel (operators.similarity.bench_contamination)
    that maps each microbatch — per-doc hit count / max cosine / top
    contaminating bench id, rows appended as they are screened, ZERO
    streaming state (each doc is decided alone against the broadcast
    bench).  The corpus side streams in over 4 microbatches; the drained
    append-mode output equals the batch screen row-for-row, so the
    oracle IS semantic_decontaminate's SQL."""
    from ..operators.similarity import bench_contamination
    from ..sources.parquet import load_table
    from ..streaming.stream import read_documents_stream_chunked

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    arrivals = read_documents_stream_chunked(
        spark, emb.filter(F.col("vec_id") % 20 != 0), n_chunks=4
    )
    screened = bench_contamination(arrivals, bench, threshold=0.35)
    return run_to_memory(screened, output_mode="append")


def _stream_decontaminate_sql() -> str:
    from .llm import _SEMANTIC_DECONTAMINATE_SQL

    return _SEMANTIC_DECONTAMINATE_SQL


def stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE training-token budget planning — token_budget_plan's
    streaming twin: the per-source (doc count, token mass) census is
    maintained as a streaming aggregate while documents arrive (count
    and sum are the mergeable state — O(sources) rows forever), and the
    drained census feeds the identical sqrt-temperature allocation
    finish (the shared _budget_plan_frame).  The mixture a pipeline
    schedules against stays current as the crawl grows; the drained
    bounded run equals the batch planner row-for-row — shared oracle."""
    from .corpus import _budget_plan_frame
    from ..sources.parquet import load_table
    from ..streaming.stream import read_documents_stream_chunked

    docs = load_table(spark, sf_dir, "documents")
    stream = read_documents_stream_chunked(spark, docs, n_chunks=4)
    census = (
        stream.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    # state is per-source (source-cardinality rows, bounded by design)
    drained = run_to_memory(census, output_mode="complete", state_partitions=8)
    # metadata-scale: per-source budget census (source-cardinality rows)
    return _budget_plan_frame(spark, drained.collect())


def _stream_token_budget_sql() -> str:
    from .corpus import _TOKEN_BUDGET_PLAN_SQL

    return _TOKEN_BUDGET_PLAN_SQL


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental dedup (streaming.stream.streaming_incremental_dedup):
    corpus signatures + gram sets precomputed once as materialized
    reference state, arrivals (doc_id % 10 == 0, the batch query's split)
    stream in over 4 microbatches and probe it per batch via foreachBatch.
    Drained union == batch incremental_dedup row-for-row; the oracle IS
    the batch query's SQL."""
    from ..sources.parquet import load_table
    from ..streaming.stream import streaming_incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    return streaming_incremental_dedup(
        spark,
        arrivals=docs.where(F.col("doc_id") % 10 == 0),
        corpus=docs.where(F.col("doc_id") % 10 != 0),
    )


def _stream_incremental_dedup_sql() -> str:
    from .llm import _incremental_dedup_sql

    return _incremental_dedup_sql()


def stream_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE mergeable-quantile state: the fixed-bin value histogram
    maintained as a streaming aggregate (per-microbatch partial counts
    fold into the sparse bin table — count addition IS the merge), then
    the quantile finish over the drained state.  O(bins) state however
    long the stream runs; drained bounded stream == the batch histogram
    operator (the shared oracle)."""
    from ..operators.sketches import histogram_quantile_finish

    events = read_events_stream(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hist = (
        events.where(F.col("value").isNotNull())
        .select(cents.alias("__c"))
        .where(F.col("__c") >= 0)
        .select(F.expr("__c DIV 1000").alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # state is the sparse fixed-bin table (O(bins) by design)
    drained = run_to_memory(hist, output_mode="complete", state_partitions=8)
    return histogram_quantile_finish(drained, bin_cents=1000)


def _stream_hist_quantiles_sql() -> str:
    from ..operators.sketches import histogram_quantiles_sql

    return histogram_quantiles_sql("events", "value", bin_cents=1000)


QUERIES = [
    QueryDef("stream_heavy_hitters", stream_heavy_hitters,
             _stream_heavy_hitters_sql(),
             "T8: live count-min sketch (additive fixed-size streaming "
             "state) probed against the exact census", bench=False),
    QueryDef("stream_stream_join", stream_stream_join, _STREAM_STREAM_JOIN_SQL,
             "T8: watermark-bounded stream-stream interval join", bench=False),
    QueryDef("stream_expectations", stream_expectations,
             _STREAM_EXPECTATIONS_SQL,
             "T8: live data-contract report — every rule counter a "
             "mergeable streaming aggregate", bench=False),
    QueryDef("stream_topk", stream_topk, _STREAM_TOPK_SQL,
             "T8/O5: live windowed top-k leaderboard over the streamed "
             "count view", bench=False),
    QueryDef("stream_tumbling_agg", stream_tumbling_agg, _STREAM_TUMBLING_SQL,
             "T8: event-time tumbling window agg via Structured Streaming",
             bench=False),
    QueryDef("stream_ohlc", stream_ohlc, _stream_ohlc_sql(),
             "T8: streaming OHLC bars (min_by/max_by tumbling windows, "
             "batch-operator parity)", bench=False),
    QueryDef("stream_hist_quantiles", stream_hist_quantiles,
             _stream_hist_quantiles_sql(),
             "live mergeable-quantile state: streaming fixed-bin histogram "
             "+ quantile finish, O(bins) state, batch-histogram oracle"),
    QueryDef("stream_incremental_dedup", stream_incremental_dedup,
             _stream_incremental_dedup_sql(),
             "live incremental dedup: corpus signature state probed per "
             "microbatch (foreachBatch), drained == batch minhash_join"),
    QueryDef("stream_hll", stream_hll, _stream_hll_sql(),
             "live per-type cardinality from fixed 512-register GroupState "
             "(max-merged HLL), batch-estimator oracle"),
    QueryDef("stream_checksum", stream_checksum, _stream_checksum_sql(),
             "live migration certification: additive md5 fingerprint as a "
             "mergeable streaming aggregate, batch-checksum oracle"),
    QueryDef("stream_attribution", stream_attribution,
             _stream_attribution_sql(),
             "live last-touch attribution: O(channels) GroupState per "
             "user, drained-stream == batch-operator oracle"),
    QueryDef("stream_enrich", stream_enrich, _STREAM_ENRICH_SQL,
             "stream-static dimension enrichment: per-microbatch broadcast "
             "join + O(segments) rollup, batch-parity oracle"),
    QueryDef("stream_dedup", stream_dedup, _STREAM_DEDUP_SQL,
             "T8: stateful streaming dedup + counts", bench=False),
    QueryDef("stream_session_window", stream_session_window, _STREAM_SESSION_SQL,
             "T8: event-time session windows (gap merge)", bench=False),
    QueryDef("stream_sliding_agg", stream_sliding_agg, _STREAM_SLIDING_SQL,
             "T8: overlapping sliding windows", bench=False),
    QueryDef("stream_stateful_stats", stream_stateful_stats, _STREAM_STATEFUL_SQL,
             "T8: custom stateful op via applyInPandasWithState", bench=False),
    QueryDef("stream_quality_gate", stream_quality_gate, _STREAM_QUALITY_GATE_SQL,
             "corpus governance on the ingest stream (per-lang keep rates)",
             bench=False),
    QueryDef("stream_pii_redact", stream_pii_redact, _stream_pii_redact_sql(),
             "pii_redact's erasure proof computed ON the ingest stream: "
             "stateless redaction projection + additive per-source census "
             "(O(sources) state), drained result == the batch report"),
    QueryDef("stream_kmv", stream_kmv, _stream_kmv_sql(),
             "T8: streaming KMV cardinality sketch (O(k) state per group)",
             bench=False),
    QueryDef("stream_funnel", stream_funnel, _stream_funnel_sql(),
             "T8: CEP funnel step machine in GroupState (O(steps) state)",
             bench=False),
    QueryDef("stream_cdc_latest", stream_cdc_latest, _stream_cdc_latest_sql(),
             "T8/K1: streaming upsert VIEW — last writer per key wins, "
             "O(1) state, batch-parity oracle shared with cdc_latest",
             bench=False),
    QueryDef("stream_cdc_mirror", stream_cdc_mirror, _stream_cdc_mirror_sql(),
             "T8/K1: streaming BUCKETED CDC mirror — foreachBatch upsert "
             "into an A/B-flipped bucketed table, batch-scale merge "
             "exchanges, drained mirror hash-equals batch cdc_latest"),
    QueryDef("stream_index_update", stream_index_update,
             _stream_index_update_sql(),
             "live IVF-PQ index maintenance: arrivals coded per microbatch "
             "with the SAVED quantizer, appended to the codes artifact; "
             "merged index hash-equals train-on-base/code-union"),
    QueryDef("stream_index_search", stream_index_search,
             _stream_index_search_sql(),
             "end-to-end live-ingest -> batched-serve: the streaming-"
             "maintained index served by the ivf_pq_batch ADC plan; "
             "hash-equals a batch train-on-base rebuild's search"),
    QueryDef("stream_drift_monitor", stream_drift_monitor,
             _stream_drift_monitor_sql(),
             "live index-staleness monitoring: per-cell arrival census "
             "as an O(cells) streaming aggregate, drained report equals "
             "batch coarse_cell_drift"),
    QueryDef("stream_distortion_monitor", stream_distortion_monitor,
             _stream_distortion_monitor_sql(),
             "live codebook-fit monitoring: per-cell (count, exact-sum) "
             "distortion census as an O(cells) streaming aggregate; "
             "drained report equals batch pq_distortion_report"),
    QueryDef("stream_margin_monitor", stream_margin_monitor,
             _stream_margin_monitor_sql(),
             "live embedding-separability monitoring (the ENCODER's "
             "retrain trigger): per-arrival label margins vs a frozen "
             "per-label reference set, O(labels) streaming state"),
    QueryDef("stream_index_retrain", stream_index_retrain,
             _stream_index_retrain_sql(),
             "the whole self-maintaining-index loop: stream-maintained "
             "codes -> drift gauge -> threshold retrain via staged swap "
             "-> batched serve from the retrained index"),
    QueryDef("stream_index_delete", stream_index_delete,
             _stream_index_delete_sql(),
             "the streaming index takes deletes: op-typed CDC stream, "
             "per-batch code-appends + id tombstones, serve view = "
             "(base ∪ arrivals) anti-join tombstones — tombstone wins, "
             "order-free, replay-idempotent"),
    QueryDef("stream_index_delete_recall", stream_index_delete_recall,
             _stream_index_delete_recall_sql(),
             "per-query recall@10 of the tombstone-aware serve vs the "
             "exact top-10 among survivors — the delete-path quality "
             "gauge"),
    QueryDef("index_tombstone_purge", index_tombstone_purge,
             _index_tombstone_purge_sql(),
             "the physical purge: compaction folds arrivals AND "
             "anti-joins tombstones inside one committed swap; per-cell "
             "folded/purged/remaining census — the erasure audit view"),
    QueryDef("contamination_erasure", contamination_erasure,
             _contamination_erasure_sql(),
             "detector-driven erasure end to end: semantic screen -> "
             "CDC deletes -> tombstone purge -> serve from the purged "
             "artifact; contaminated vectors can no longer rank"),
    QueryDef("stream_cluster_sample", stream_cluster_sample,
             _stream_cluster_sample_sql(),
             "the diversity sampler as a stream: per-cluster bounded "
             "(hash, id)-min state — KMV's mergeable shape, O(k x cap) "
             "forever; drained sample equals the batch ranker"),
    QueryDef("stream_decontaminate", stream_decontaminate,
             _stream_decontaminate_sql(),
             "live benchmark screening: the bench matrix rides into a "
             "stateless per-microbatch kernel; drained append output "
             "equals the batch screen"),
    QueryDef("stream_token_budget", stream_token_budget,
             _stream_token_budget_sql(),
             "live mixture planning: O(sources) streaming census + the "
             "shared sqrt-temperature allocation finish; drained run "
             "equals the batch planner"),
    QueryDef("stream_scd2", stream_scd2, _stream_scd2_sql(),
             "T8: live SCD2 history maintenance (O(runs) state per key)",
             bench=False),
    QueryDef("stream_zscore", stream_zscore, _stream_zscore_sql(),
             "T8: live rolling z-score anomaly census (O(window) state, "
             "pure-integer test, batch-window parity)", bench=False),
]
