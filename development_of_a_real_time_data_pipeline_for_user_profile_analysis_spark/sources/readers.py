"""Batch readers for the test corpus.

``spark.read.parquet`` with explicit column pruning left to Catalyst;
filters written downstream reach the scan via parquet predicate
pushdown (verify with ``.explain`` → ``PushedFilters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TPCH_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Parquet files written by pandas/pyarrow default to TIMESTAMP(NANOS),
# which Spark's vectorized reader rejects outright. We read nanos as
# raw int64 (legacy conf) and rebuild a micros timestamp with integer
# division — NOT float division: nano epochs (~1.7e18) exceed a
# double's 53-bit mantissa and would corrupt low-order digits.
# Nano columns are detected from the parquet footer per table, so any
# future nanos-timestamp table is rebuilt too instead of silently
# surfacing as bigint (the conf itself must stay set: Spark consults
# it at scan time, not DataFrame-creation time).


def parquet_schema(path: str):
    """Footer schema of a parquet file (or first part-file of a dir);
    None if unreadable. Used to adapt reads to the corpus's timestamp
    flavor (nanos-int64 vs micros, UTC-adjusted vs naive) without
    loading any data."""
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return None
        probe = os.path.join(path, parts[0])
    try:
        return pq.read_schema(probe)
    except Exception:
        return None


def parquet_physical_type(path: str, col: str) -> str | None:
    """Physical parquet type of ``col`` ('INT96', 'INT64', ...) from
    the footer (first part-file of a dir); None if unreadable. Needed
    because INT96 timestamps surface as ns in the ARROW schema, yet
    Spark reads them as plain TIMESTAMP — the two ns flavors take
    different read paths (nanosAsLong only applies to int64-ns)."""
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return None
        probe = os.path.join(path, parts[0])
    try:
        sch = pq.ParquetFile(probe).schema
        for i in range(len(sch)):
            if sch.column(i).name == col:
                return sch.column(i).physical_type
    except Exception:
        return None
    return None


def _nano_ts_cols(path: str) -> list[str]:
    import pyarrow as pa

    schema = parquet_schema(path)
    if schema is None:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


# Inferred read-schema per parquet path: schema-less parquet reads
# run a footer-inference JOB on every call (~0.3 s each in local
# mode, one per query per table across the whole bench); the corpus
# is immutable within a session, so the first read's inferred schema
# is passed explicitly to every later read of the same path. This is
# metadata caching only (what a table catalog does) — no data or
# results are cached.
_READ_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    # nanosAsLong is session-level conf (session.py) — no read-path
    # toggling; here we only normalize whatever surfaced.
    nano_cols = _nano_ts_cols(path)
    # cache key includes every conf that changes parquet schema
    # inference, so a non-engine test session cannot poison (or be
    # poisoned by) the engine session's entries
    key = (
        path,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ", "true"),
        spark.conf.get("spark.sql.timestampType", "TIMESTAMP_LTZ"),
    )
    raw_schema = _READ_SCHEMA_CACHE.get(key)
    if raw_schema is None:
        df = spark.read.parquet(path)
        _READ_SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(raw_schema).parquet(path)
    for c in nano_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    # Micros-unit parquet without isAdjustedToUTC surfaces as
    # TIMESTAMP_NTZ under Spark 4's NTZ inference; the engine pins the
    # session to UTC, so the cast is value-preserving and gives every
    # table one uniform timestamp type (unix_micros & friends require
    # LTZ).
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the corpus as SQL views so every engine query also runs
    via ``spark.sql``."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def footer_read_schema(path: str):
    """Spark read-schema for a LOCAL, non-partitioned parquet dir (or
    file), taken from one footer on the driver — a schema-less
    ``spark.read.parquet`` runs a footer-inference JOB per call
    (~0.3 s of fixed latency in local mode), and the artifact
    lifecycle paths chain dozens of such request-sized reads (r12
    audit profile). Returns None — caller falls back to a plain read
    — when the dir has partition-style subdirs (Spark must infer the
    partition column's type from the dir names) or any timestamp
    column (NTZ/LTZ inference must stay Spark's)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        if os.path.isfile(path):
            probe = path
        else:
            probe = None
            for e in sorted(os.listdir(path)):
                full = os.path.join(path, e)
                if os.path.isdir(full):
                    if "=" in e:
                        return None
                    continue
                if e.endswith(".parquet") and not e.startswith(
                    ("_", ".")
                ):
                    probe = full
            if probe is None:
                return None
        arrow = _pq.read_schema(probe)
        if any(_pa.types.is_timestamp(f.type) for f in arrow):
            return None
        return from_arrow_schema(arrow)
    except Exception:
        return None


def read_parquet_pinned(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet`` with the schema pinned from the local
    footer when safely possible (see footer_read_schema) — identical
    result, no schema-inference job. Multi-path reads fall back to a
    plain read (the paths' footers may legitimately differ and the
    schema-union must stay Spark's)."""
    if len(paths) != 1:
        return spark.read.parquet(*paths)
    sch = footer_read_schema(paths[0])
    if sch is None:
        return spark.read.parquet(paths[0])
    return spark.read.schema(sch).parquet(paths[0])
