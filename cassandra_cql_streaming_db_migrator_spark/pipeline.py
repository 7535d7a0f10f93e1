"""Pipeline executor — the engine's DbMigrator.

The reference's lifecycle (SURVEY §3): Config -> per-table init (schema
discovery, filter/plugin loading, query building, validation;
MigrateTableTask.java:160-181) -> pull-based row loop with filter chain +
parallel per-row writes (MTT:281-367).  Here the whole lifecycle collapses
into one declarative DataFrame lineage per table:

    read -> where_clause filter -> [observe rows_read]
         -> filter chain -> computed columns -> TTL arithmetic
         -> anti-join (if-not-exists) -> column mapping
         -> [observe rows_failed] -> validity split (continueOnRowError
            quarantine) -> read/write limit -> [observe rows_passed] -> sink

The sink (``sinks.write_table`` for parquet targets) picks the write by the
table's mode; a counter table's rows reach it unaggregated, and the counter
sink sums them per key once.  A streamed migration runs this same plan on
each microbatch (``streaming.migrate``).

Catalyst's analyze/optimize replaces ``initialize()``; Tungsten execution
replaces the row loop; input-split partitioning replaces paging; task
parallelism replaces the write thread pool.  Any table's plan failure aborts
the job before any table runs (plan-all-then-run, mirroring
DbMigrator.java:72-74's init-failure abort).

Stats are ``observe()`` metrics riding the sink action — ONE pass computes
rows_read / rows_passed / rows_failed / rows_migrated (the reference's
counters, MTT:89-92) with no extra count() scans; at 100 TB an extra count
is an extra full-table read.  The one exception is fail-fast
(``continue_on_row_error=False``), which counts invalid rows before the
write because it must abort before anything is written.

Error policy (T5, MTT:496-517): Spark cannot drop individual failed writes
mid-task, so per-row tolerance becomes a *pre-write validity split*: rows
failing the validity predicate (default: any PK column NULL) go to a
quarantine side output and count as rows_failed; with
``continue_on_row_error=False`` any invalid row aborts the table's run
(fail-fast parity).

Multi-table scheduling (T7, DbMigrator.java:42,76-106): tables submit in
declared order onto a ``thread_count`` pool; concurrent Spark actions
interleave at the task scheduler level, the declarative analog of the
reference's table-task pool.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.anti_join import if_not_exists_filter
from .operators.compute import with_computed_columns
from .operators.filters import apply_filter_chain, pushdown_filter
from .operators.limits import read_limit
from .operators.ttl import ttl_preserving_columns
from .plans.spec import PipelineSpec, TableMigration
from .plans.validate import validate_migration_schema
from .sinks.sinks import noop_sink, quarantine_split


@dataclass
class TableRunResult:
    table: str
    target: str
    simulated: bool
    rows_read: int
    rows_passed_filter: int
    rows_filtered: int
    rows_migrated: int
    rows_failed: int = 0
    warnings: list[str] = field(default_factory=list)


@dataclass
class TablePlan:
    spec: TableMigration
    df: DataFrame  # the sink-ready lineage
    quarantine: DataFrame | None
    read_obs: Observation
    passed_obs: Observation
    warnings: list[str]
    # recount fallbacks: an Observation breaks when its observed node runs
    # in MORE than one action (fail-fast's pre-write count + the sink are
    # two), which Spark tolerates for file sources but asserts on for local
    # relations.  The fallback recounts — an extra scan on a rare path
    # beats losing the stats contract.
    read_df: DataFrame | None = None
    passed_df: DataFrame | None = None
    # rows_failed rides the sink action when invalid rows are quarantined
    # (continue_on_row_error); None when fail-fast counts them up front
    failed_obs: Observation | None = None


def default_validity(spec: TableMigration) -> F.Column | None:
    """T5 default row validity: every PK column non-NULL (None without
    keys).  Shared by the batch pipeline and streamed migrations."""
    if not spec.key_columns:
        return None
    cond = F.lit(True)
    for k in spec.key_columns:
        cond = cond & F.col(k).isNotNull()
    return cond


def build_table_plan(
    spec: TableMigration,
    source_df: DataFrame,
    target_df: DataFrame | None = None,
) -> tuple[DataFrame, list[str]]:
    """Compose the declarative plan for one table migration (no
    observations).  Returns the final DataFrame plus plan-time warnings."""
    plan = _build(spec, source_df, target_df, observed=False)
    return plan.df, plan.warnings


def build_observed_plan(
    spec: TableMigration, source_df: DataFrame, target_df: DataFrame | None = None
) -> TablePlan:
    return _build(spec, source_df, target_df, observed=True)


def _build(
    spec: TableMigration,
    source_df: DataFrame,
    target_df: DataFrame | None,
    observed: bool,
) -> TablePlan:
    warnings: list[str] = []
    df = source_df

    if spec.where_clause:
        df = pushdown_filter(df, spec.where_clause)  # S4

    # S5 read limit sits HERE, directly on the read+WHERE — the reference
    # appends "limit N" to the CQL read itself (DefaultMigratorPlugin.java:
    # 211-214), so it caps rows READ, before the in-memory filter chain /
    # computed columns / quarantine ever see them.  A spec using
    # maxReadRowCount must select the same row set on both engines.
    df = read_limit(df, spec.max_read_row_count)

    read_obs = Observation(f"read_{spec.table_name}")
    read_df = df
    if observed:
        df = df.observe(read_obs, F.count(F.lit(1)).alias("rows"))

    df = apply_filter_chain(df, spec.filters)  # F2/F3
    df = with_computed_columns(df, spec.calculated_columns)  # P3

    if spec.respect_ttl and spec.source_default_ttl and spec.target_default_ttl:
        df = ttl_preserving_columns(df, spec.source_default_ttl, spec.target_default_ttl)  # S3/K4

    if spec.insert_only_if_not_exist and target_df is not None:
        df = if_not_exists_filter(df, target_df, spec.key_columns)  # J1/K2

    if target_df is not None and not spec.counter_columns:
        result = validate_migration_schema(
            df.schema, target_df.schema, spec.key_columns, spec.calculated_columns
        )
        warnings.extend(result.warnings)
        cols = list(result.write_columns)
        extra = [c for c in df.columns if c in ("target_ttl", "row_ttl_value") and c not in cols]
        df = df.select(*cols, *extra)  # P1/P2

    quarantine: DataFrame | None = None
    failed_obs: Observation | None = None
    validity = default_validity(spec)
    if validity is not None and not spec.counter_columns:
        if observed and spec.continue_on_row_error:
            failed_obs = Observation(f"failed_{spec.table_name}")
            df = df.observe(
                failed_obs,
                F.coalesce(F.sum(F.when(validity, 0).otherwise(1)), F.lit(0)).alias("rows"),
            )
        df, quarantine = quarantine_split(df, validity)  # T5

    if spec.max_write_row_count and spec.max_write_row_count > 0:
        df = df.limit(spec.max_write_row_count)  # K6, exact (no overshoot race)

    passed_obs = Observation(f"passed_{spec.table_name}")
    passed_df = df
    if observed:
        df = df.observe(passed_obs, F.count(F.lit(1)).alias("rows"))

    return TablePlan(
        spec, df, quarantine, read_obs, passed_obs, warnings, read_df, passed_df, failed_obs
    )


def _run_one(plan: TablePlan, sink) -> TableRunResult:
    """Run one planned table: one Spark action (the sink's write, or the
    dry run's count) that also fills every observation.  Fail-fast tables
    with a validity split run one count of the invalid rows before it.
    ``sink`` is as for ``run_pipeline``."""
    spec = plan.spec
    simulated = spec.simulate_only or sink is None

    rows_failed = 0
    if plan.quarantine is not None and not spec.continue_on_row_error:
        rows_failed = plan.quarantine.count()
        if rows_failed:
            # T5 fail-fast: abort this table before writing anything
            raise RuntimeError(
                f"table {spec.table_name} fails validity: {rows_failed} rows "
                "fail validity and continue_on_row_error=false"
            )

    def _obs_rows(obs: Observation, fallback_df: DataFrame | None, default: int) -> int:
        try:
            vals = obs.get
            if vals:
                return int(vals["rows"])
        except Exception:
            pass  # observed node ran in >1 action (see TablePlan) — recount
        return fallback_df.count() if fallback_df is not None else default

    if simulated:
        migrated = noop_sink(plan.df)  # K5: full execution, no write
    else:
        migrated = sink(plan.df, spec)
        if migrated is None:
            migrated = _obs_rows(plan.passed_obs, plan.passed_df, 0)

    rows_read = _obs_rows(plan.read_obs, plan.read_df, migrated)
    passed = _obs_rows(plan.passed_obs, plan.passed_df, migrated)
    if plan.failed_obs is not None:
        rows_failed = _obs_rows(plan.failed_obs, plan.quarantine, 0)
    return TableRunResult(
        table=spec.table_name,
        target=spec.target,
        simulated=simulated,
        rows_read=rows_read,
        rows_passed_filter=passed,
        rows_filtered=max(rows_read - passed - rows_failed, 0),
        rows_migrated=migrated,
        rows_failed=rows_failed,
        warnings=plan.warnings,
    )


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    tables: dict[str, DataFrame],
    targets: dict[str, DataFrame] | None = None,
    sink=None,
) -> list[TableRunResult]:
    """Plan every table, then run them in declared order (O3/T7) on a
    ``thread_count`` pool.  ``sink`` is a callable ``(df, table_spec) ->
    rows_written | None``; None = simulate (noop)."""
    spec.validate()
    targets = targets or {}

    planned = [
        build_observed_plan(t, tables[t.table_name], targets.get(t.target))
        for t in spec.tables
    ]  # plan-all-then-run (any failure aborts before any table executes)

    if spec.thread_count <= 1:
        return [_run_one(p, sink) for p in planned]
    with ThreadPoolExecutor(max_workers=spec.thread_count) as pool:
        futures = [pool.submit(_run_one, p, sink) for p in planned]  # declared order
        return [f.result() for f in futures]
