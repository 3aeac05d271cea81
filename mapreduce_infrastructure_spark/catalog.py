"""Table catalog over the driver's parquet fixtures.

The reference's only "catalog" is the ``input_files=`` comma list in its job
INI (``src/mapreduce_spec.h:78-80``) — newline-delimited text files. The new
engine's sources are typed parquet tables (TESTDATA.md); schema-on-read is
parquet-self-describing, with one normalization: ``events.ts`` is stored as
parquet TIMESTAMP(NANOS), which Spark reads as epoch-nanos long (see
session._RUNTIME_CONF) and we convert to a microsecond TIMESTAMP here.

Scale note: at 100 TB these reads are partitioned scans; filters/projections
composed on the returned DataFrames push down into the parquet reader
(Catalyst `PushedFilters`/`ReadSchema`), so loading "the whole table" here
costs nothing until an action.

Schema cache: a plain ``spark.read.parquet`` runs a Spark job to infer the
schema from the parquet footer on every call. ``parquet_schema`` infers it
once per process and every reader here — ``load_table`` and the streaming
tier's file sources — passes the cached schema to ``spark.read.schema``.
The cache key is

- the absolute path of the table,
- a fingerprint of its files: ``(mtime_ns, size)`` for a single parquet
  file, or the sorted ``(name, size, mtime_ns)`` of every file under a
  directory dataset, so rewriting a file or adding a part file misses,
- the values of the schema-inference confs ``session.tune`` pins
  (``nanosAsLong``, ``inferTimestampNTZ``), so a session that reads
  timestamps differently never gets another session's schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

from .session import tune


def scratch_dir(*sub: str) -> str:
    """<repo-root>/.scratch/<sub...> — the ONE derivation of the shared
    scratch root. Modules previously each hand-rolled a triple-dirname
    expression that had to agree on package depth; moving any module one
    directory deeper would have silently split the shared tree."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(root, ".scratch", *sub)


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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a timestamp column to the engine convention: TIMESTAMP
    (LTZ, session tz pinned to UTC in session._RUNTIME_CONF).

    The fixtures have stored event time three different ways across driver
    rounds — TIMESTAMP(NANOS) (read as epoch-nanos BIGINT under
    ``nanosAsLong``), TIMESTAMP_NTZ(µs) (if ``inferTimestampNTZ`` could not
    be disabled), and plain TIMESTAMP — so every reader funnels through this
    one conversion instead of assuming a storage type."""
    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # epoch-nanos long -> TIMESTAMP via INTEGER division: ns values
        # (~1.7e18) exceed 2^53, so a double-typed `/ 1000` loses ulps and
        # lands a microsecond off the oracle's truncation. `div` stays in
        # 64-bit integer arithmetic.
        #
        # Magnitude tripwire: a BIGINT ts stored as MICROS or MILLIS (the
        # fixture-drift class that cost round 3 on the streaming path)
        # would convert 1000×/10⁶× off while the post-normalization TYPE
        # still passes load_table's check — fail loudly instead. Nanos for
        # any plausible event time are ~1e18; micros ~1e15; millis ~1e12.
        # ASSERT_TRUE raises at scan time on the first offending row.
        guard = F.expr(
            f"assert_true({col} IS NULL OR {col} > 100000000000000000, "
            f"'catalog.normalize_ts: BIGINT ts magnitude is not epoch-nanos "
            f"(fixture drift? micros/millis need a different divisor)')"
        )
        return df.withColumn(
            col,
            F.when(guard.isNull(), F.timestamp_micros(F.expr(f"{col} div 1000"))),
        )
    if isinstance(dt, TimestampNTZType):
        # NTZ -> LTZ is a wall-clock reinterpretation in the session tz
        # (UTC), so values match the oracle's naive timestamps exactly.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# The confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")


def fingerprint(path: str) -> tuple:
    """``(mtime_ns, size)`` of a file, or the sorted ``(relative name, size,
    mtime_ns)`` of every file under a directory (symlinks followed)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    parts = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            parts.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(parts))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, cached per process
    under the key described in the module docstring."""
    path = os.path.abspath(path)
    key = (
        path,
        fingerprint(path),
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types to engine conventions.

    Tripwire: a fixture-storage change that ``normalize_ts`` does not
    recognize (a fourth ts encoding) must fail HERE with a named error,
    not surface as silent hash mismatches downstream — the TIMESTAMP_NTZ
    flip between rounds 2 and 3 cost two rounds precisely because nothing
    asserted the post-normalization type."""
    tune(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_ts(df)
        dt = df.schema["ts"].dataType
        if not isinstance(dt, TimestampType):
            raise TypeError(
                f"fixture drift: events.ts normalized to {dt} (expected "
                "TIMESTAMP); the fixture introduced a ts storage type "
                "normalize_ts does not handle — extend catalog.normalize_ts"
            )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> None:
    """Register fixture tables as temp views for spark.sql queries.

    Pass the tables the query actually reads — registering all 10 costs 10
    parquet footer reads on the first call for queries that need 1-2."""
    for name in tables if tables is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
