"""CLI entry point (Main.java analog) + plugin registry (reflective-load
analog) end to end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.__main__ import main
from cassandra_cql_streaming_db_migrator_spark.operators.filters import apply_filter_chain
from cassandra_cql_streaming_db_migrator_spark.plans.plugins import (
    register_filter,
    resolve,
)
from cassandra_cql_streaming_db_migrator_spark.plans.spec import FilterDef
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

EXAMPLE_YAML = """
threadCount: 1
tables:
  - tableName: orders
    keyColumns: [o_orderkey]
    continueOnRowError: true
    whereClause: "o_orderstatus = 'O'"
    dataFilters:
      - expression: "row.o_totalprice >= 1000"
    calculatedColumns:
      bucket: "abs(hash(o_orderpriority)) % 8"
  - tableName: region
    keyColumns: [r_regionkey]
    continueOnRowError: true
"""


def test_cli_runs_example_config_and_reports(spark, sf_dir, tmp_path, capsys):
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(EXAMPLE_YAML)
    rc = main(
        ["-configYaml", str(cfg), "--tables-dir", sf_dir], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "table orders -> orders [SIMULATED]" in out
    assert "table region -> region [SIMULATED]" in out
    # rowsRead counts post-whereClause rows — the pushdown predicate runs
    # server-side BEFORE rows are "read", exactly the reference's counter
    # semantics (rowsRead counts fetched rows, DMP:207-210 + MTT:311-313)
    assert "rowsRead=514" in out  # sf0.001 orders with o_orderstatus='O'


def test_cli_execute_writes_upsert_target(spark, sf_dir, tmp_path, capsys):
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        """
tables:
  - tableName: region
    keyColumns: [r_regionkey]
    continueOnRowError: true
    simulateOnly: false
"""
    )
    out_dir = tmp_path / "out"
    rc = main(
        ["-configYaml", str(cfg), "--tables-dir", sf_dir, "--execute",
         "--output-dir", str(out_dir)],
        spark=spark,
    )
    assert rc == 0
    written = spark.read.parquet(str(out_dir / "region.parquet"))
    assert written.count() == 5


def test_python_plugin_filter_in_chain(spark, sf_dir):
    register_filter("only_big_orders", lambda df: df.filter(F.col("o_totalprice") > 100000))
    orders = load_table(spark, sf_dir, "orders")
    out = apply_filter_chain(
        orders,
        [FilterDef(expression="only_big_orders", language="python"),
         FilterDef(expression="o_orderstatus = 'O'", language="sql")],
    )
    rows = out.select("o_totalprice", "o_orderstatus").collect()
    assert rows and all(r[0] > 100000 and r[1] == "O" for r in rows)


def test_module_path_plugin_resolution():
    fn = resolve("operator:itemgetter", kind="filter")  # stdlib module:attr
    assert callable(fn)
    with pytest.raises(ValueError, match="cannot load plugin"):
        resolve("no_such_module_xyz:fn")
    with pytest.raises(ValueError, match="unknown filter plugin"):
        resolve("never_registered")


COUNTER_YAML = """
tables:
  - tableName: events
    targetTableName: event_counters
    keyColumns: [user_id, event_type]
    continueOnRowError: true
    simulateOnly: false
    counterColumns: [n_events]
    calculatedColumns:
      n_events: "1"
"""


def _run_cli(spark, sf_dir, tmp_path, yaml_text, out_dir):
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(yaml_text)
    return main(
        ["-configYaml", str(cfg), "--tables-dir", sf_dir, "--execute",
         "--output-dir", str(out_dir)],
        spark=spark,
    )


def test_cli_counter_runs_add_up(spark, sf_dir, tmp_path, capsys):
    """Each executed run adds its counts to the stored counters; the target
    holds only keys and counters; with no filter every row read passes."""
    out_dir = tmp_path / "out"
    rows = load_table(spark, sf_dir, "events").count()
    for run in (1, 2):
        assert _run_cli(spark, sf_dir, tmp_path, COUNTER_YAML, out_dir) == 0
        target = spark.read.parquet(str(out_dir / "event_counters.parquet"))
        assert target.agg(F.sum("n_events")).first()[0] == run * rows
    assert sorted(target.columns) == ["event_type", "n_events", "user_id"]
    out = capsys.readouterr().out
    assert f"rowsRead={rows} rowsPassedFilter={rows} rowsFiltered=0" in out


def test_cli_if_not_exists_without_target_then_appends_nothing(
    spark, sf_dir, tmp_path, capsys
):
    """An insert-if-not-exists table whose target does not exist yet is
    written whole; a second run finds every key held and appends nothing."""
    yaml_text = """
tables:
  - tableName: region
    targetTableName: region_once
    keyColumns: [r_regionkey]
    continueOnRowError: true
    simulateOnly: false
    insertOnlyIfNotExist: true
"""
    out_dir = tmp_path / "out"
    path = str(out_dir / "region_once.parquet")
    assert _run_cli(spark, sf_dir, tmp_path, yaml_text, out_dir) == 0
    assert spark.read.parquet(path).count() == 5
    assert "rowsMigrated=5" in capsys.readouterr().out
    assert _run_cli(spark, sf_dir, tmp_path, yaml_text, out_dir) == 0
    assert spark.read.parquet(path).count() == 5
    assert "rowsMigrated=0" in capsys.readouterr().out
