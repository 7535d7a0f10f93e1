"""Streaming table migration (SURVEY §2.9 T1-T5 as Structured Streaming).

The reference's whole executor — paged reads (T1), inter-page throttling
(T2), batch accumulation (T3), parallel writes (T4) — becomes one
``readStream -> transform -> foreachBatch(upsert)`` query:

  * microbatch == the reference's page/process-batch unit;
  * ``maxFilesPerTrigger`` / trigger intervals == pageSize +
    pauseMillisBetweenPages (source-side rate limiting / backpressure);
  * ``foreachBatch`` upsert-by-PK == the per-row UPDATE pool, minus the
    row-at-a-time RPCs;
  * checkpointing makes a crashed migration restartable from the last
    committed microbatch (the reference restarts from zero or overwrites).
    Delivery is effectively-once for the UPSERT path (replayed batches
    re-merge the same rows idempotently), for the IF-NOT-EXISTS path (a
    replayed batch finds its own rows and appends nothing) and
    epoch-fenced for the COUNTER path (sinks.counter_merge_parquet
    records the last applied epoch and skips replays; only a crash inside
    the data-write/marker-write sliver still replays once — see its
    docstring).

The same table-migration spec (plans.spec.TableMigration) drives the
transform, so batch and streaming migrations share one definition — the
filter chain, computed columns, TTL arithmetic and the NULL-key validity
split are identical code.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.anti_join import if_not_exists_filter
from ..operators.compute import with_computed_columns
from ..operators.filters import apply_filter_chain, pushdown_filter
from ..operators.ttl import ttl_preserving_columns
from ..pipeline import default_validity
from ..plans.spec import TableMigration
from ..sinks.sinks import (
    _read_target_if_exists,
    counter_merge_parquet,
    upsert_parquet,
    write_parquet,
)


def apply_migration_transform(stream: DataFrame, spec: TableMigration) -> DataFrame:
    """The spec's row pipeline on a streaming DataFrame (filters, computed
    columns, TTL, validity) — anti-join/counter stages are batch-side
    concerns handled inside the sink's foreachBatch where both sides are
    bounded.

    Rows failing the batch pipeline's validity (a NULL key) never reach
    the sink: with ``continue_on_row_error`` they are dropped (a stream
    keeps no quarantine side output); without it the microbatch fails
    inside its write, so the target keeps its previous contents (the
    merge is swapped in only after a whole write)."""
    df = stream
    if spec.where_clause:
        df = pushdown_filter(df, spec.where_clause)
    df = apply_filter_chain(df, spec.filters)
    df = with_computed_columns(df, spec.calculated_columns)
    if spec.respect_ttl and spec.source_default_ttl and spec.target_default_ttl:
        df = ttl_preserving_columns(df, spec.source_default_ttl, spec.target_default_ttl)
    validity = default_validity(spec)
    if validity is not None and not spec.counter_columns:
        if spec.continue_on_row_error:
            df = df.filter(validity)  # T5
        else:
            df = df.filter(
                F.when(validity, True).otherwise(
                    F.raise_error(F.lit(f"table {spec.table_name}: a row fails validity "
                                        "and continue_on_row_error=false"))
                )
            )
    return df


def migrate_stream_to_parquet(
    stream: DataFrame,
    spec: TableMigration,
    target_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a streaming migration into a parquet target with upsert-by-PK
    semantics in ``foreachBatch`` (K1 for non-Cassandra sinks), or, for an
    ``insert_only_if_not_exist`` table, append-if-absent-by-PK (K2).  With
    ``available_now`` the query drains the bounded source and stops —
    the deterministic test mode; production drops that flag and sets a
    processing-time trigger."""
    transformed = apply_migration_transform(stream, spec)
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="migrate_ckpt_")

    def sink_batch(batch: DataFrame, epoch_id: int) -> None:
        if spec.simulate_only:
            batch.count()  # K5: execute fully, write nothing
            return
        if spec.counter_columns:
            # K3: counter tables merge additively, microbatch by microbatch,
            # epoch-fenced so a foreachBatch replay cannot double-count
            counter_merge_parquet(
                batch,
                target_path,
                spec.key_columns,
                spec.counter_columns,
                epoch_id=epoch_id,
            )
        elif spec.insert_only_if_not_exist:
            # K2: LWT insert — rows whose key the target already holds are
            # dropped, the rest appended
            existing = _read_target_if_exists(batch.sparkSession, target_path)
            if existing is not None:
                batch = if_not_exists_filter(batch, existing, spec.key_columns)
            write_parquet(batch, target_path)
        else:
            upsert_parquet(batch, target_path, spec.key_columns)

    writer = (
        transformed.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint)
        .queryName(f"migrate_{spec.table_name}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
        query.stop()
    return query
