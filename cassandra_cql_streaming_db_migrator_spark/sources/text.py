"""JSONL / CSV sources with strict schema enforcement.

The reference reads only CQL tables (its one "format"); an analytics
engine ingesting training data also meets newline-delimited JSON and CSV
drops.  Both readers parse the splittable ``text`` source with
``from_json`` / ``from_csv`` rather than using ``spark.read.json/csv``
directly, for two reasons that matter at scale:

  * Spark's native JSON/CSV corrupt-record column may not be queried on
    its own (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    documented workaround is ``cache()``, a non-starter on a 100 TB read.
    Parsing into a struct makes ``_corrupt_record`` an ordinary field:
    the quarantine side (`sinks.quarantine_split`, SURVEY §2.7 T5) is a
    plain filter, single pass, nothing cached;
  * an EXPLICIT schema is required — ``inferSchema`` reads the data
    twice.

Error policy mirrors the engine's row-error modes: ``quarantine`` keeps
malformed rows with their raw line in ``_corrupt_record``; ``fail`` is
FAILFAST (the reference's ``continueOnRowError=false``); ``drop``
silently discards malformed rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parquet import load_table, read_parquet, table_path

_CORRUPT_COL = "_corrupt_record"


def _parse_frame(
    raw: DataFrame, parsed: Column, schema: T.StructType, errors: str
) -> DataFrame:
    """Common unwrap: struct field per schema column + ``_corrupt_record``
    (quarantine mode only)."""
    if errors not in ("quarantine", "fail", "drop"):
        raise ValueError(f"errors must be quarantine|fail|drop, got {errors!r}")
    out = raw.select(parsed.alias("j")).select("j.*")
    if errors == "drop":
        return out.filter(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL)
    if errors == "fail":
        return out.drop(_CORRUPT_COL)
    return out


def _struct_schema(schema: T.StructType) -> T.StructType:
    if _CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT_COL, T.StringType(), True)]
    )


def _options(errors: str) -> dict[str, str]:
    return {
        "mode": "FAILFAST" if errors == "fail" else "PERMISSIVE",
        "columnNameOfCorruptRecord": _CORRUPT_COL,
    }


def _non_blank(raw: DataFrame, json: bool) -> DataFrame:
    # from_json/from_csv yield a NULL struct (not a corrupt record) for
    # empty input, which would fabricate an all-null "good" row per blank
    # line — drop them before parsing.  The stricter JSON rules
    # (whitespace-only lines, bare `null` — both parse to nothing) must
    # NOT apply to CSV, where '   ' or 'null' is a legitimate single-
    # column value; CSV drops only truly empty lines.
    if json:
        v = F.trim(F.col("value"))
        return raw.filter((v != "") & (v != "null"))
    return raw.filter(F.col("value") != "")


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    errors: str = "quarantine",
) -> DataFrame:
    """Newline-delimited JSON with a mandatory explicit schema."""
    raw = _non_blank(spark.read.text(path), json=True)
    parsed = F.from_json(F.col("value"), _struct_schema(schema), _options(errors))
    return _parse_frame(raw, parsed, schema, errors)


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    errors: str = "quarantine",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV with a mandatory explicit schema (no inferSchema double-scan).

    With ``header=True`` the header line is removed by VALUE (a line equal
    to the sep-joined field names) — per-file position is meaningless after
    splitting, and a typed data row can't collide with the header text."""
    raw = _non_blank(spark.read.text(path), json=False)
    if header:
        header_line = sep.join(f.name for f in schema.fields)
        raw = raw.filter(F.col("value") != F.lit(header_line))
    opts = dict(_options(errors), sep=sep)
    parsed = F.from_csv(F.col("value"), _ddl(_struct_schema(schema)), opts)
    return _parse_frame(raw, parsed, schema, errors)


def schema_for_table(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The fixture table's schema (from the parquet footer — metadata-only
    read), for ingesting the same table from JSONL/CSV drops."""
    return read_parquet(spark, table_path(sf_dir, name)).schema


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    errors: str = "quarantine",
) -> DataFrame:
    """Streaming twin of :func:`read_jsonl`: a Structured Streaming text
    source (new files per microbatch — the continuous-ingestion shape of a
    training-data drop directory) parsed with the same from_json +
    quarantine policy.  Identical parse semantics to the batch reader, so
    a pipeline validated in batch can be pointed at a live directory
    unchanged (trigger/availableNow and sink choice stay with the
    caller)."""
    raw = _non_blank(spark.readStream.text(path), json=True)
    parsed = F.from_json(F.col("value"), _struct_schema(schema), _options(errors))
    return _parse_frame(raw, parsed, schema, errors)


__all__ = [
    "read_jsonl",
    "read_jsonl_stream",
    "read_csv",
    "schema_for_table",
    "load_table",
]
