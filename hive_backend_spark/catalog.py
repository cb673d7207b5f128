"""Table catalog: load the driver's parquet fixtures and register SQL views.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file/dir each under an sf dir.

``events`` stands in for the reference's ``updates`` queue table
(FIXTURES.md §B): id->event_id, created_at->ts, type/target_type->event_type,
priority ordering key -> coalesce(value, 0), content JSON -> props.

Schema cache (the metastore's role in Hive): a schema-less
``spark.read.parquet`` runs a Spark job that reads footers on every call
(~130 ms against ~25 ms with an explicit schema, on a 4-core VM).
``read_parquet`` infers once and then reads with ``spark.read.schema(...)``.

- Key: (applicationId, path as given) -> (fingerprint, inferred StructType).
  The fingerprint is the values of the parquet confs that change what
  inference returns, plus the sorted (name, is_dir, length, mtime) of the
  path's NON-recursive Hadoop ``FileSystem.listStatus``.
- Invalidation: every read re-lists the path and compares fingerprints, so
  any file added, removed, rewritten or touched forces re-inference; a new
  SparkContext never sees another context's entries. Writers that know the
  schema they just wrote (``operators.mutation.atomic_overwrite``) record it
  with ``remember_schema`` so the next read is a hit too. At most
  ``_MAX_SCHEMAS`` paths are held; the oldest goes first.
- Not covered: a listing that holds a directory (a partitioned layout —
  the fingerprint cannot see files added to nested partitions), a listing
  of more than ``_MAX_LISTING`` entries and a path that does not list
  (globs, a missing path) are never cached and read with plain inference,
  which also raises the usual errors. A file rewritten in place with the
  same length and mtime would go unnoticed.
- Cost: every read, hit or miss, lists the path from Python once more
  (Spark lists it again): a few py4j calls per entry, 4-7 ms for a single
  local file on a 4-core VM. The gain is measured only for local paths of
  a few files; on a remote filesystem a hit may cost more than the
  inference it replaces.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_runtime_confs

TABLES = (
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
)

# Small dimension tables that should sit on the broadcast side of every join
# at any realistic scale factor (SURVEY §2.3 J1/J2 are all dim lookups).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as TIMESTAMP(NANOS) in the fixture parquet. Spark reads
# them as long nanos (session conf nanosAsLong); we convert to timestamp by
# exact integer division to microseconds — the same ns->us truncation DuckDB
# applies, so oracle values match.
_NANO_TS_COLUMNS = {"events": ("ts",)}


# Confs that change the StructType parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()
_MAX_SCHEMAS = 4096  # paths; the oldest entry goes first beyond it
# Listing entries past which a path is left to plain inference: each entry
# costs about 0.5 ms of py4j calls per read, so 64 stay well under the
# ~130 ms inference job they replace.
_MAX_LISTING = 64


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """Sorted (name, is_dir, length, mtime) of path's non-recursive Hadoop
    FileSystem listing (a file lists as itself), or None when the path does
    not list or lists more than ``_MAX_LISTING`` entries."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        statuses = fs.listStatus(hpath)
    except Py4JJavaError:
        return None
    if len(statuses) > _MAX_LISTING:
        return None
    return tuple(sorted(
        (s.getPath().getName(), s.isDirectory(), s.getLen(), s.getModificationTime())
        for s in statuses
    ))


def _cache_key(spark: SparkSession, path: str) -> tuple[tuple[str, str], tuple | None]:
    """((applicationId, path), fingerprint); the fingerprint is None when
    the path cannot be cached (it does not list, or it holds a directory)."""
    key = (spark.sparkContext.applicationId, path)
    listing = _listing(spark, path)
    if listing is None or any(is_dir for _, is_dir, _, _ in listing):
        return key, None
    return key, (tuple(spark.conf.get(c) for c in _INFERENCE_CONFS), listing)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the footer-inference job when the
    path's fingerprint matches the one its schema was inferred (or
    recorded) under. See the module docstring for key and invalidation."""
    key, fp = _cache_key(spark, path)
    hit = _SCHEMAS.get(key) if fp is not None else None
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if fp is not None:
        _store(key, fp, df.schema)
    return df


def remember_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record ``schema`` (what inference would return) for parquet just
    written to path, under the path's current listing."""
    key, fp = _cache_key(spark, path)
    if fp is not None:
        _store(key, fp, schema)


def _store(key: tuple[str, str], fp: tuple, schema: StructType) -> None:
    with _SCHEMAS_LOCK:
        _SCHEMAS.pop(key, None)
        if len(_SCHEMAS) >= _MAX_SCHEMAS:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[key] = (fp, schema)


def clear_schema_cache() -> None:
    with _SCHEMAS_LOCK:
        _SCHEMAS.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_confs(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    for c in _NANO_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (idempotent).

    Also normalizes runtime confs (UTC session timezone etc.) so results are
    comparable with the DuckDB oracle regardless of who built the session.
    """
    ensure_runtime_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
