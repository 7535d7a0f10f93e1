"""Anti-join existence filter (SURVEY §2.4 F4, §2.5 J1, §2.2 K2).

The reference has two takes on "only write rows whose PK is not already in
the target":

  * ``IfNotExistFilter`` — a batched ``SELECT pk FROM target WHERE pk1 IN
    (...) AND ...`` probe, self-documented as O(N_pk x M_rows) per batch
    (IfNotExistFilter.java:18-48) and **unfinished** (constructor throws
    "not ready", INEF:56-58; filterRowSet is the identity, INEF:91-94);
  * LWT ``INSERT ... IF NOT EXISTS`` pushed to the DB per row
    (DefaultMigratorPlugin.java:276-292), a Paxos round per write.

The Spark-native replacement is one ``left_anti`` join on the full PK — the
complete, scalable version of what INEF wanted to be.  At scale: if the
target key set is small, broadcast it (no shuffle); otherwise AQE picks a
shuffled hash/sort-merge join on the key columns — both beat per-row Paxos
or per-batch IN-probes by orders of magnitude.

Equivalence caveat (SURVEY §7.4): LWT IF NOT EXISTS and anti-join agree only
without concurrent writers — the quiesced-migration assumption, stated here
on purpose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def if_not_exists_filter(
    source: DataFrame,
    target_keys: DataFrame,
    key_columns: list[str],
) -> DataFrame:
    """Drop source rows whose full PK already exists in ``target_keys``.

    ``rowsMigrated`` parity: the reference counts only *applied* LWT writes
    (DMP:399-400); rows surviving this anti-join are exactly those.
    """
    return source.join(target_keys.select(*key_columns), on=key_columns, how="left_anti")
