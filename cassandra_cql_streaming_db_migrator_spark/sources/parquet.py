"""Parquet fixture source.

The reference's source is a paged CQL table scan with explicit projection
(DefaultMigratorPlugin.java:180-220) and runtime schema discovery
(MigrateTableTask.java:415-428).  In Spark the scan is a parquet (or
connector) read: paging == input-split partitioning, projection == Catalyst
column pruning, schema discovery == the file footer / connector metadata.
Nothing imperative is needed — we just expose the tables, and infer each
local file set's schema once (``read_parquet``).
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Session confs that change how a Parquet footer maps to Spark types: an
# inferred schema is reused only while all of them read as they did.
_SCHEMA_CONFS = (
    NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO_MAX = 256
# path -> (signature, schema); one entry per path, oldest evicted first
_schema_memo: dict[str, tuple[tuple, StructType]] = {}
_schema_memo_lock = threading.Lock()


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Read parquet TIMESTAMP(NANOS) as long, unless the session already
    says otherwise.  ``build_session`` sets it once; this covers sessions
    built elsewhere without a session-wide write on every read."""
    if spark.conf.get(NANOS_AS_LONG, None) is None:
        spark.conf.set(NANOS_AS_LONG, "true")


def local_path(path: str) -> str | None:
    """The local filesystem path behind a scheme-less or ``file:`` path
    (Spark emits both ``file://x`` and ``file:/x``), else None."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return None if "://" in path else path


def _file_set(local: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``local``.
    Hidden files (``_SUCCESS``, ``.crc``) are included: they change with
    the data files, so they cost no reuse and need no copy of Spark's
    listing rule."""
    st = os.stat(local)
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(local):
        for fn in files:
            full = os.path.join(root, fn)
            fst = os.stat(full)
            out.append((os.path.relpath(full, local), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job per
    repeated read.

    Inference runs one Spark job (footer reads) per read; a supplied schema
    runs none.  The inferred schema is remembered per path and supplied
    again while the path's files (path, size, mtime_ns) and the
    type-mapping confs are unchanged; any change re-infers.  The memo is
    process-wide: the signature alone decides reuse, so sessions with other
    confs never see each other's schemas.  Remote and glob paths always
    infer.

    It pays off only where one process reads the same unchanged path again:
    registry queries run in one session (each query loads its fixture
    tables), and a merge sink re-reading the target its job just loaded.
    A job that reads each path once (the CLI) gets no hit and pays one
    ``stat`` per file of each path it reads."""
    local = local_path(path)
    if local is None or any(c in local for c in "*?[{"):
        return spark.read.parquet(path)
    try:
        sig = (_file_set(local), tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    except OSError:
        return spark.read.parquet(path)  # let the reader raise its own error
    hit = _schema_memo.get(path)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo.pop(path, None)
        _schema_memo[path] = (sig, df.schema)
        if len(_schema_memo) > _SCHEMA_MEMO_MAX:
            del _schema_memo[next(iter(_schema_memo))]
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.

    The ``events`` table is written with parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL).  We read nanos
    as long (legacy conf) and truncate to microsecond timestamps — the same
    truncation DuckDB applies when it reads TIMESTAMP_NS, so engine and
    oracle agree.
    """
    ensure_nanos_as_long(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    for field_name, dtype in df.dtypes:
        if field_name == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL surface)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_input(df: DataFrame, key) -> DataFrame:
    """Conditional post-scan spread — guide §2.5 "input skew: one huge
    unsplittable file".  The fixture tables are single-row-group parquet
    files, so every scan is ONE unsplittable task no matter the core
    count; a scan-stage aggregate (partial aggregation runs inside the
    scan task) is then serial.  When the scan yields fewer splits than
    the scheduler's width, hash-repartition on a deterministic
    high-cardinality key (never ``rand()`` — SPARK-38388) so per-row work
    downstream parallelizes; at scale the input has >= cores splits and
    this is the identity.  Only worth applying where the scan-stage
    compute dominates (measured per query); an exchange is never free."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, F.col(key) if isinstance(key, str) else key)
    return df
