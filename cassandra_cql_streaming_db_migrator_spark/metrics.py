"""Job statistics (SURVEY §2.6 A2/A3).

The reference tracks rows_read / rows_passed_filter / rows_migrated /
rows_failed per table plus latency histograms (MigrateTableTask.java:89-92,
111-151) and prints a periodic status (MTT:375-413).  Spark-native: attach
``observe()`` metrics to the lineage so counters ride the job instead of
being counted in extra passes — at 100 TB, a second ``count()`` pass is a
second full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class LatencyHistogram:
    """A3: sliding-window latency histogram, the Spark-side analog of the
    reference's pageFetchMillis/writeBatchTookMillis recorders
    (MigrateTableTask.java:111-151 — sliding-window reservoirs snapshotted
    into the status line at MTT:317-319, 527-529).  Keeps the last
    ``window`` observations; quantiles use the nearest-rank method."""

    def __init__(self, window: int = 128):
        from collections import deque

        self._obs = deque(maxlen=window)

    def record(self, millis: float) -> None:
        self._obs.append(float(millis))

    def __len__(self) -> int:
        return len(self._obs)

    def quantile(self, q: float) -> float | None:
        if not self._obs:
            return None
        ordered = sorted(self._obs)
        idx = min(len(ordered) - 1, max(0, int(q * len(ordered))))
        return ordered[idx]

    def summary(self) -> str:
        if not self._obs:
            return "n=0"
        return (
            f"n={len(self._obs)} p50={self.quantile(0.5):.0f} "
            f"p95={self.quantile(0.95):.0f} p99={self.quantile(0.99):.0f} "
            f"max={max(self._obs):.0f}"
        )


class StatusReporter:
    """T6 analog of the reference's periodic status print
    (MigrateTableTask.java:375-413: rows + deltas + read/write time split,
    every printStatusEveryXSeconds).  For Structured Streaming queries the
    per-microbatch progress event carries the same facts — rows in, rows
    per second, batch duration — so one listener replaces the reference's
    timer thread + counter snapshot dance.

    A3 latency split (MTT:111-151): ``durationMs`` on each progress event
    already separates source-side fetch (``latestOffset`` + ``getBatch`` ≈
    pageFetchMillis) from batch execution incl. the sink (``addBatch`` ≈
    writeBatchTookMillis); both feed sliding-window histograms
    (``read_latency`` / ``write_latency``) surfaced in every status line.

    Use: ``rep = StatusReporter.attach(spark, sink=print)``; detach with
    ``rep.detach(spark)``.  ``sink`` receives one formatted line per
    microbatch; ``rep.lines`` keeps them for tests/inspection."""

    def __init__(self, sink=None, histogram_window: int = 128):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lines: list[str] = []
        self.read_latency = LatencyHistogram(histogram_window)
        self.write_latency = LatencyHistogram(histogram_window)
        reporter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                reporter._emit(f"[{event.name or event.id}] started")

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                fetch_ms = d.get("latestOffset", 0) + d.get("getBatch", 0)
                write_ms = d.get("addBatch", 0)
                reporter.read_latency.record(fetch_ms)
                reporter.write_latency.record(write_ms)
                line = (
                    f"[{p.name or p.id}] batch={p.batchId} "
                    f"rows={p.numInputRows} "
                    f"rows/s={p.processedRowsPerSecond or 0.0:.0f} "
                    f"batch_ms={p.batchDuration} "
                    f"fetch_ms={fetch_ms} [{reporter.read_latency.summary()}] "
                    f"write_ms={write_ms} [{reporter.write_latency.summary()}]"
                )
                reporter._emit(line)

            def onQueryTerminated(self, event):
                reporter._emit(f"[{event.id}] terminated")

            def onQueryIdle(self, event):
                pass

        self._listener = _Listener()
        self._sink = sink

    def _emit(self, line: str) -> None:
        self.lines.append(line)
        if self._sink is not None:
            self._sink(line)

    @classmethod
    def attach(cls, spark, sink=None, histogram_window: int = 128) -> "StatusReporter":
        rep = cls(sink=sink, histogram_window=histogram_window)
        spark.streams.addListener(rep._listener)
        return rep

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)


def conservation_stats(
    read_df: DataFrame, passed_df: DataFrame
) -> DataFrame:
    """Dry-run conservation report as data (K5/A2): one row with
    rows_read = rows_passed + rows_filtered.  Used by the oracle-checked
    ``dry_run_stats`` query; the migrate pipeline observes the same counters
    on its sink action instead (``pipeline.build_observed_plan``)."""
    r = read_df.agg(F.count(F.lit(1)).alias("rows_read"))
    p = passed_df.agg(F.count(F.lit(1)).alias("rows_passed"))
    return r.crossJoin(p).select(
        "rows_read",
        "rows_passed",
        (F.col("rows_read") - F.col("rows_passed")).alias("rows_filtered"),
    )
