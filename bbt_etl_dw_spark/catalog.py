"""Table catalog over the synthetic parquet test tables.

The engine's catalog in production would be a metastore; here it is a thin
path-based loader (mirroring the reference's path-as-catalog medallion
layout, reference ``scripts/etl_extract.py:13-14``) over
``$SPARK_GRAFT_SF_DIR/{table}.parquet``.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bbt_etl_dw_spark.session import session_token, tune

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _needs_spread(path: str) -> bool:
    """True when the parquet file cannot split into enough tasks: Spark's
    input splits align to row groups, so a non-trivial single-row-group
    file runs every downstream narrow computation single-threaded. On a
    real lake (many files / many row groups) this returns False and the
    spread is a no-op."""
    try:
        import pyarrow.parquet as pq

        if os.path.getsize(path) < 512 * 1024:  # broadcast-dim sized: skip
            return False
        return pq.ParquetFile(path).num_row_groups < 4
    except Exception:
        return False


def _file_version(path: str) -> tuple | None:
    """Identity of the bytes at ``path``: (mtime_ns, size, inode), and for
    a dataset directory the same of every entry beneath it, so a part file
    added, dropped or rewritten anywhere changes it. None for what
    ``os.stat`` cannot resolve (scheme URIs such as ``s3a://``)."""
    try:
        st = os.stat(path)
        version: tuple = (st.st_mtime_ns, st.st_size, st.st_ino)
        if stat.S_ISDIR(st.st_mode):
            for root, dirs, files in os.walk(path):
                dirs.sort()
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    version += ((root, f, st.st_mtime_ns, st.st_size, st.st_ino),)
        return version
    except (OSError, ValueError):
        return None


@dataclass
class _Resolved:
    """What one file version resolved to in one session."""

    version: tuple | None  # None: not memoized (see _file_version)
    schema: T.StructType
    spread: bool | None = None  # _needs_spread, filled on first spread=True


_MEMO_SIZE = 256
_memo: OrderedDict[tuple[int, str], _Resolved] = OrderedDict()
_memo_lock = threading.Lock()


def _memo_get(key: tuple[int, str], version: tuple) -> _Resolved | None:
    with _memo_lock:
        hit = _memo.get(key)
        if hit is None or hit.version != version:
            return None
        _memo.move_to_end(key)
        return hit


def _memo_put(key: tuple[int, str], resolved: _Resolved) -> None:
    with _memo_lock:
        _memo[key] = resolved
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_SIZE:
            _memo.popitem(last=False)


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one table. Columnar parquet scan => pushdown + pruning free.

    The schema is resolved once per session and file version: inferring it
    runs a Spark job that reads the parquet footer (~0.1 s of driver time
    per call, paid by every dashboard query). The memo key is the JVM
    session (``session.session_token``) and the path; an entry holds only
    for the file version (:func:`_file_version`) it was inferred from, so
    a rewritten file re-infers, and a session with other parquet confs
    never sees another session's schema. A miss reads exactly as without
    the memo and records that read's schema; a hit passes the schema to
    the reader and runs no job. Paths ``os.stat`` cannot resolve (scheme
    URIs) always infer. The memo is a bounded LRU shared by threads; a
    race may infer twice, never serve a schema of another file version.

    ``spread=True`` is for queries whose per-row compute dominates their
    shuffle cost (hash signatures, exact-decimal folds): when the file
    cannot split into enough row groups, a round-robin repartition to
    defaultParallelism moves the (pruned) columns once so the heavy map
    work runs on every core instead of one. Deterministic filters still
    push down through the exchange into the scan. Shuffle-bound queries
    should keep the default — the extra exchange only adds latency. On a
    real lake (many files/row groups) the spread is a no-op. The decision
    is kept in the same memo entry, so it too follows the file version."""
    tune(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    key = (session_token(spark), path)
    version = _file_version(path)
    resolved = None if version is None else _memo_get(key, version)
    if resolved is not None:
        df = spark.read.schema(resolved.schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        resolved = _Resolved(version, df.schema)
        # Recorded only if the file did not change under the inference.
        if version is not None and _file_version(path) == version:
            _memo_put(key, resolved)
    schema = resolved.schema
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # nanos-as-long (see session.RUNTIME_CONF): truncate to micros with
        # integer division (exact on int64; float division would lose
        # precision above 2^53) — same truncation DuckDB applies to ns.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet TIMESTAMP without isAdjustedToUTC reads as TIMESTAMP_LTZ via
    # inferTimestampNTZ=false (session.RUNTIME_CONF) — normalization happens
    # at the scan, keeping pushdown/row-group pruning. This cast is a
    # fallback for sessions where that conf could not be applied; one
    # withColumns so it stacks a single Project (backtick-quoted names
    # guard against dots in column names).
    ntz = {
        field.name: F.col(f"`{field.name}`").cast("timestamp")
        for field in schema.fields
        if isinstance(field.dataType, T.TimestampNTZType)
    }
    if ntz:
        df = df.withColumns(ntz)
    if spread:
        if resolved.spread is None:
            resolved.spread = _needs_spread(path)
        if resolved.spread:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() queries."""
    for n in TABLES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)


def save_table(
    df: DataFrame,
    name: str,
    partition_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a MANAGED parquet table in the session
    catalog (``spark.table(name)`` / ``spark.sql`` see it immediately) —
    the writable-catalog sink of SURVEY §7 phase 4. Partitioned managed
    tables get directory-level partition pruning exactly like path-based
    snapshots (gated in tests); in production the same call lands in the
    configured metastore (Hive/Glue/Unity) — nothing here is local-only."""
    w = df.write.format("parquet").mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.saveAsTable(name)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Session-catalog read-back twin of :func:`save_table`."""
    return spark.table(name)
