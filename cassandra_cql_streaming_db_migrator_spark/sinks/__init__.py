from .sinks import (
    noop_sink,
    quarantine_split,
    upsert_parquet,
    write_parquet,
    write_table,
)

__all__ = [
    "noop_sink",
    "quarantine_split",
    "upsert_parquet",
    "write_parquet",
    "write_table",
]
