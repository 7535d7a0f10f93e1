"""CLI entry point — the reference's ``java -jar migrator.jar -configYaml``
(Main.java:27-59) as ``python -m cassandra_cql_streaming_db_migrator_spark``.

    python -m cassandra_cql_streaming_db_migrator_spark -configYaml cfg.yaml \
        --tables-dir /root/testdata/sf0.001 [--execute]

Source tables resolve to ``<tables-dir>/<name>.parquet`` and targets to
``<output-dir>/<target>.parquet``, read before the job and written there by
each table's sink mode (``sinks.write_table``) — the self-contained
environment's stand-in for the reference's two CQL connections; production
wiring swaps in sources.cassandra readers.  The final per-table stats report
mirrors DbMigrator.java:91-106; any table's plan failure aborts before any
table runs (DbMigrator.java:72-74).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _stats_report(results) -> str:
    lines = ["=== migration finished — per-table stats ==="]
    for r in results:
        mode = "SIMULATED" if r.simulated else "executed"
        lines.append(
            f"table {r.table} -> {r.target} [{mode}]: "
            f"rowsRead={r.rows_read} rowsPassedFilter={r.rows_passed_filter} "
            f"rowsFiltered={r.rows_filtered} rowsMigrated={r.rows_migrated} "
            f"rowsFailed={r.rows_failed}"
        )
        for w in r.warnings:
            lines.append(f"  warning: {w}")
    return "\n".join(lines)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m cassandra_cql_streaming_db_migrator_spark",
        description="Run a YAML-configured table migration job.",
    )
    # the reference's exact flag spelling, plus a conventional alias
    parser.add_argument("-configYaml", "--config", dest="config", required=True,
                        help="path to the migration config YAML")
    parser.add_argument("--tables-dir", required=True,
                        help="directory holding <table>.parquet sources")
    parser.add_argument("--execute", action="store_true",
                        help="write for real (default honors each table's "
                             "simulateOnly flag; reference default is dry-run)")
    parser.add_argument("--output-dir", default=None,
                        help="directory the targets are read from and written "
                             "to (default: <tables-dir>_out)")
    args = parser.parse_args(argv)

    from .pipeline import run_pipeline
    from .plans.spec import load_spec
    from .session import build_session
    from .sinks.sinks import _read_target_if_exists, write_table
    from .sources.parquet import load_table

    spec = load_spec(args.config)
    own_session = spark is None
    spark = spark or build_session(app_name="cassandra_cql_streaming_db_migrator_cli")
    out_dir = args.output_dir or f"{args.tables_dir.rstrip('/')}_out"

    def target_path(table_spec):
        return f"{out_dir}/{table_spec.target}.parquet"

    def sink(df, table_spec):  # rows are counted by the pipeline's observation
        write_table(df, table_spec, target_path(table_spec))

    try:
        tables = {t.table_name: load_table(spark, args.tables_dir, t.table_name)
                  for t in spec.tables}
        targets = {t.target: _read_target_if_exists(spark, target_path(t))
                   for t in spec.tables}
        results = run_pipeline(spark, spec, tables, targets=targets,
                               sink=sink if args.execute else None)
    except Exception as e:
        print(f"migration aborted: {e}", file=sys.stderr)
        return 1
    finally:
        if own_session:
            spark.stop()
    print(_stats_report(results))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
