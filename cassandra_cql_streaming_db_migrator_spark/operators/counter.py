"""Counter-table additive merge (SURVEY §2.2 K3, §2.6 A1).

Cassandra counter columns accumulate: the reference's write becomes
``SET c = c + :c`` (DefaultMigratorPlugin.java:309-311), with a NULL
increment never bound (DMP:426-432 — binding NULL to a counter is an error).
Counter detection is per-table metadata (CassandraSchemaUtil.java:72-85).

Semantically this is a commutative keyed SUM merged into stored state.  The
Spark-native shape is map-side-combinable ``groupBy(keys).agg(sum)`` — one
shuffle of partial sums, not one RPC per row — followed by an additive merge
at the sink (read-modify-write in ``foreachBatch``, or the connector's native
counter write).  ``sum`` ignores NULLs, which *is* the reference's NULL-skip
rule.

Idempotence note (SURVEY §7.4): neither engine makes counter increments
idempotent under retry; sinks.upsert documents the same caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def counter_merge(
    df: DataFrame, key_columns: list[str], counter_columns: list[str]
) -> DataFrame:
    """Pre-aggregate counter deltas per PK (one row per key -> one merge).

    Floating-point counters sum in DECIMAL so the merge is associative
    bit-for-bit regardless of partitioning — floating-point sums are
    order-dependent, and a migration that produces different counters per
    run is not a migration.  Integer/long counters are exact either way.
    """
    aggs = []
    for c in counter_columns:
        col = F.col(c)
        if dict(df.dtypes).get(c, "") in ("double", "float"):
            col = col.cast("decimal(28,10)")
        aggs.append(F.sum(col).alias(c))
    aggs.append(F.count(F.lit(1)).alias("merged_row_count"))
    return df.groupBy(*key_columns).agg(*aggs)
