"""Seeded inputs for the benchmark.

The tables every workload reads are the repo's own parquet fixtures
(``perfbench/fixtures/sf<scale>``: byte-identical copies of the TPC-H-ish
tables, events, documents and embeddings the oracle gate runs on, checked
against ``perfbench/fixtures/SHA256SUMS``).  They are read, never written.

``--seed`` drives only what is derived from them: which rows the migration
targets already hold before a job and with which values, which keys the
targets hold that the sources never carry, and the counters already held.
The same seed gives byte-identical targets; row counts depend only on the
scale, so rates compare across seeds.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SCALES = ("0.01", "0.001")


def fixture_dir(sf: float) -> str:
    name = f"{sf:g}"
    if name not in SCALES:
        raise ValueError(f"no fixture at sf {name}; have {', '.join(SCALES)}")
    return os.path.join(FIXTURES, f"sf{name}")


def verify_fixtures(tables: str) -> None:
    """Refuse to run on fixture tables that differ from the recorded ones."""
    scale = os.path.basename(tables)
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
        for line in fh:
            digest, rel = line.split()
            if rel.startswith(scale + "/"):
                with open(os.path.join(FIXTURES, rel), "rb") as f:
                    if hashlib.sha256(f.read()).hexdigest() != digest:
                        raise RuntimeError(f"fixture {rel} differs from SHA256SUMS")


def _write_dir(table: pa.Table, path: str) -> None:
    """A parquet target as Spark writes one: a directory of part files."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _redrawn(cols: dict[str, np.ndarray], rng: np.random.Generator) -> pa.Table:
    """Rows of ``lineitem_v2`` for the given keys, with values that differ
    from the source's (quantity, price and bucket drawn again)."""
    n = len(cols["l_orderkey"])
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": cols["l_orderkey"],
        "l_linenumber": cols["l_linenumber"],
        "l_partkey": cols["l_partkey"],
        "l_suppkey": cols["l_suppkey"],
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "part_bucket": rng.integers(0, 64, n).astype(np.int64),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write the migration targets as they exist before a job under
    ``out_dir/targets``; return a manifest of paths and row counts."""
    rng = np.random.default_rng(seed)
    tables = fixture_dir(sf)
    verify_fixtures(tables)
    read = lambda name, cols=None: pq.read_table(f"{tables}/{name}.parquet", columns=cols)  # noqa: E731
    rows = {f.removesuffix(".parquet"): pq.read_metadata(f"{tables}/{f}").num_rows
            for f in sorted(os.listdir(tables))}
    targets = os.path.join(out_dir, "targets")

    # lineitem_v2: a seeded 60% of the source keys already exist, with other
    # values (the upsert must replace them), plus as many keys the source
    # never carries, past its largest order key (they must survive the merge)
    li = read("lineitem", ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"])
    li = {c: li.column(c).to_numpy() for c in li.column_names}
    nl = len(li["l_orderkey"])
    held = np.sort(rng.choice(nl, int(nl * 0.6), replace=False))
    ne = len(held)
    extra = {
        "l_orderkey": li["l_orderkey"].max() + 1 + np.arange(ne, dtype=np.int64) // 7,
        "l_linenumber": (1 + np.arange(ne) % 7).astype(np.int32),
        "l_partkey": rng.choice(li["l_partkey"], ne),
        "l_suppkey": rng.choice(li["l_suppkey"], ne),
    }
    _write_dir(pa.concat_tables([_redrawn({c: v[held] for c, v in li.items()}, rng),
                                 _redrawn(extra, rng)]),
               f"{targets}/lineitem_v2.parquet")

    # orders_v2: a seeded half of the order keys already exist, with another
    # total price; insert-if-not-exists must keep them as they are
    orders = read("orders")
    have = np.sort(rng.choice(orders.num_rows, orders.num_rows // 2, replace=False))
    ov2 = orders.take(pa.array(have))
    ov2 = ov2.set_column(
        ov2.schema.get_field_index("o_totalprice"), "o_totalprice",
        pa.array(np.round(rng.uniform(1000.0, 500_000.0, len(have)), 2)),
    )
    _write_dir(ov2, f"{targets}/orders_v2.parquet")

    # event_counters: counters already held for a seeded third of every
    # (user, event type) key, including keys the events never carry
    ev = read("events", ["user_id", "event_type"])
    types = sorted(set(ev.column("event_type").to_pylist()))
    users = pc.max(ev.column("user_id")).as_py() + 1
    keys = [(u, e) for u in range(users + users // 10) for e in types]
    kept = np.sort(rng.choice(len(keys), len(keys) // 3, replace=False))
    _write_dir(pa.table({
        "user_id": pa.array([keys[i][0] for i in kept], pa.int64()),
        "event_type": [keys[i][1] for i in kept],
        "value": pa.array([_dec(v) for v in np.round(rng.uniform(1.0, 9000.0, len(kept)), 2)],
                          pa.decimal128(38, 10)),
        "n_events": pa.array(rng.integers(1, 200, len(kept)), pa.int64()),
    }), f"{targets}/event_counters.parquet")

    return {"tables": tables, "targets": targets, "rows": rows}


def _dec(v: float):
    from decimal import Decimal

    return Decimal(f"{v:.2f}")
