"""Streaming table migration (SURVEY §2.9 T1-T5 as Structured Streaming).

Each microbatch runs the batch pipeline: ``foreachBatch`` reads the target
as it stands, builds the table's plan over the microbatch
(``pipeline.build_observed_plan``) and runs it with the pipeline's
single-table runner into ``sinks.write_table``, exactly as a batch job
does.  The microbatch is the reference's page/process-batch unit;
``maxFilesPerTrigger`` and trigger intervals stand for pageSize +
pauseMillisBetweenPages (backpressure).

Checkpointing makes a crashed migration restartable from the last
committed microbatch (the reference restarts from zero or overwrites).
Delivery is effectively-once for the UPSERT path (replayed batches re-merge
the same rows), for the IF-NOT-EXISTS path (a replayed batch finds its own
rows and appends nothing) and epoch-fenced for the COUNTER path (a
microbatch at or below the counter sink's epoch marker is skipped before
it is planned; only a crash between the sink's data swap and marker write
still replays once).  Row caps bound a whole job, not a microbatch, so a
spec that sets one is refused.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import _run_one, build_observed_plan
from ..plans.spec import TableMigration
from ..sinks.sinks import _read_target_if_exists, last_applied_epoch, write_table


def migrate_stream_to_parquet(
    stream: DataFrame,
    spec: TableMigration,
    target_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a streaming migration of ``spec`` into the parquet target at
    ``target_path``, written by the table's sink mode.  With
    ``available_now`` the query drains the bounded source and stops —
    the deterministic test mode; production drops that flag and sets a
    processing-time trigger."""
    if max(spec.max_read_row_count or 0, spec.max_write_row_count or 0) > 0:
        raise ValueError(
            f"table {spec.table_name}: maxReadRowCount/maxWriteRowCount cap a "
            "whole job; a streamed migration would apply them to each microbatch"
        )
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="migrate_ckpt_")

    def sink_batch(batch: DataFrame, epoch_id: int) -> None:
        last = last_applied_epoch(target_path) if spec.counter_columns else None
        if last is not None and epoch_id <= last:
            return  # replayed microbatch: the counter sink already merged it
        target = _read_target_if_exists(batch.sparkSession, target_path)
        plan = build_observed_plan(spec, batch, target)
        _run_one(plan, lambda df, t: write_table(df, t, target_path, epoch_id))

    writer = (
        stream.writeStream.foreachBatch(sink_batch)
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
