"""Output checks, run outside the timed region.

Every comparison uses the strict canonical row form of
``tools/check_correctness.py`` (exact values and decimal scales, columns
sorted by name, rows sorted), so a check here is as strict as the repo's
oracle gate.  Expected results come from DuckDB over the same inputs the
program read.  A migrate target that passed that check once is kept, and
the same target of every later op must hold exactly the same rows.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import sys

import duckdb

# The repo's canonical row form; tools/check_correctness.py prepends its own
# checkout path to sys.path on import, which is undone here.
_saved = list(sys.path)
_cc = importlib.import_module("tools.check_correctness")
sys.path[:] = _saved
rowset = _cc.rowset



def _dir(path: str) -> str:
    return f"read_parquet('{path}/*.parquet', union_by_name = true)"


def _upsert(old: str, new: str, keys: list[str]) -> str:
    on = " AND ".join(f"n.{k} = o.{k}" for k in keys)
    return (
        f"SELECT o.* FROM {old} o WHERE NOT EXISTS (SELECT 1 FROM ({new}) n WHERE {on}) "
        f"UNION ALL {new}"
    )


def digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    """Row count and hash of the canonical sorted row set of ``sql``."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = rowset([[r[i] for i in order] for r in cur.fetchall()])
    h = hashlib.sha256(repr(([names[i] for i in order], rows)).encode())
    return len(rows), h.hexdigest()


def expected_batch(manifest: dict) -> dict[str, tuple[int, str]]:
    """Each target of the migrate_batch job after one job over the
    pristine targets: perfbench/spec.yaml's row pipelines as SQL."""
    t, g = manifest["tables"], manifest["targets"]
    con = duckdb.connect()
    new_li = f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice,
           abs(l_partkey * 2654435761) % 64 AS part_bucket
    FROM '{t}/lineitem.parquet'
    WHERE l_quantity >= 5 AND l_discount >= 0.02 AND l_discount <= 0.08
    """
    new_orders = (
        f"SELECT * FROM '{t}/orders.parquet' "
        "WHERE o_orderstatus <> 'P' AND o_totalprice >= 5000.0"
    )
    counters = f"""
    WITH d AS (
      SELECT user_id, event_type,
             sum(CAST(value AS DECIMAL(28,10))) AS dv, CAST(count(*) AS BIGINT) AS dn
      FROM '{t}/events.parquet' WHERE event_type <> 'error'
      GROUP BY user_id, event_type
    ), o AS (SELECT * FROM {_dir(g + '/event_counters.parquet')})
    SELECT coalesce(o.user_id, d.user_id) AS user_id,
           coalesce(o.event_type, d.event_type) AS event_type,
           CAST(coalesce(o.value, 0) + coalesce(d.dv, 0) AS DECIMAL(38,9)) AS value,
           coalesce(o.n_events, 0) + coalesce(d.dn, 0) AS n_events
    FROM o FULL OUTER JOIN d ON o.user_id = d.user_id AND o.event_type = d.event_type
    """
    return {
        "lineitem_v2": digest(con, _upsert(
            _dir(g + "/lineitem_v2.parquet"), new_li, ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"])),
        "orders_v2": digest(con, _upsert(
            _dir(g + "/orders_v2.parquet"),
            f"SELECT * FROM ({new_orders}) WHERE o_orderkey NOT IN "
            f"(SELECT o_orderkey FROM {_dir(g + '/orders_v2.parquet')})",
            ["o_orderkey"])),
        "event_counters": digest(con, counters),
    }


def actual(target_dir: str) -> tuple[int, str]:
    return digest(duckdb.connect(), f"SELECT * FROM {_dir(target_dir)}")


def same_rows(a_dir: str, b_dir: str) -> bool:
    """Whether two parquet targets hold the same columns and exactly the
    same multiset of rows (DuckDB ``EXCEPT ALL`` both ways)."""
    con = duckdb.connect()
    a, b = _dir(a_dir), _dir(b_dir)
    cols = [[d[0] for d in con.execute(f"SELECT * FROM {x} LIMIT 0").description] for x in (a, b)]
    if sorted(cols[0]) != sorted(cols[1]):
        return False
    sel = ", ".join(f'"{c}"' for c in sorted(cols[0]))
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b}))"
        f" + (SELECT count(*) FROM (SELECT {sel} FROM {b} EXCEPT ALL SELECT {sel} FROM {a}))"
    ).fetchone()[0]
    return diff == 0


def oracle_rowset(tables_dir: str, sql: str) -> tuple[list[str], list]:
    """A registry oracle's result over the fixture tables: columns
    sorted by name, canonical rows sorted."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        name = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables_dir}/{f}'")
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], rowset([[r[i] for i in order] for r in cur.fetchall()])


def canonical(columns: list[str], rows: list) -> tuple[list[str], list]:
    """Collected Spark rows in the form ``oracle_rowset`` gives."""
    cols = sorted(columns)
    return cols, rowset([[row[c] for c in cols] for row in rows])


def corrupt(target_dir: str) -> None:
    """Self-test hook: drop the last row of the largest part file of a
    target."""
    import pyarrow.parquet as pq

    path = max((os.path.join(target_dir, f) for f in os.listdir(target_dir)
                if f.endswith(".parquet")), key=os.path.getsize)
    table = pq.read_table(path)
    pq.write_table(table.slice(0, max(0, table.num_rows - 1)), path)
