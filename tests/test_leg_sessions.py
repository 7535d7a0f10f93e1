"""Session clones for concurrent pipeline legs: a leg's session-wide conf
window stays on its own clone, and the JVM-wide logging setup is applied
once however many sessions are tuned."""

from __future__ import annotations

from cassandra_cql_streaming_db_migrator_spark.session import (
    _ACCUMULATOR_RACE,
    _filters_of,
    leg_session,
    tune_existing,
)


def _race_filters(spark) -> list:
    jvm = spark.sparkContext._jvm
    ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
    name = "org.apache.spark.scheduler.DAGScheduler"
    logger_cfg = ctx.getConfiguration().getLoggerConfig(name)
    assert logger_cfg.getName() == name
    return [
        f
        for f in _filters_of(logger_cfg)
        if f.toString().endswith("pattern=" + _ACCUMULATOR_RACE)
    ]


def test_tune_existing_leaves_one_accumulator_filter(spark):
    tune_existing(spark)
    for _ in range(5):
        tune_existing(spark.newSession())
        leg_session(spark)
    tune_existing(spark)
    assert len(_race_filters(spark)) == 1


def test_drift_monitor_keeps_conf_off_callers_session(spark, sf_dir, monkeypatch):
    """The drain narrows the shuffle width on a private clone; the caller's
    session, where the base census plans concurrently, never sees it."""
    from cassandra_cql_streaming_db_migrator_spark.queries.streaming import (
        stream_drift_monitor,
    )

    real_set = spark.conf.set
    keys = []

    def recording_set(key, value):
        keys.append(key)
        return real_set(key, value)

    monkeypatch.setattr(spark.conf, "set", recording_set)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = stream_drift_monitor(spark, sf_dir).collect()
    assert "spark.sql.shuffle.partitions" not in keys
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert rows and all(r["n_all"] >= r["n_base"] for r in rows)
