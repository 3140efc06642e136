"""Test-data table access.

The driver provides TPC-H-ish parquet tables (TESTDATA.md). These helpers
load them lazily and register temp views so queries can be written either as
DataFrame compositions or ``spark.sql`` — mirroring the reference's pattern of
registering Arrow tables as queryable views (``query_iceberg.ipynb:214``,
``conn.register``), but lazy and distributed instead of fully materialized.

``scratch`` is the one place operators get working directories: all of
them sit under one per-process root that is removed at process exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

_scratch_lock = threading.Lock()
_scratch_root: tuple[int, str] | None = None  # (owner pid, path)
_scratch_ids = itertools.count()


def scratch(prefix: str) -> str:
    """A fresh directory for an operator's or a stream's working files.

    Every such directory lives under ONE root per process, made on the
    process's first call (under a lock: operators also run from worker
    threads) and removed by a single ``atexit`` hook that only its
    owner runs. Operators return DataFrames that read these files
    lazily, so nothing under the root goes earlier — except stream
    checkpoints, which ``run_stream`` removes once their query has
    terminated. Processes that never call this (Spark's Python workers)
    never make a root; a forked child that does gets its own, and one
    that exits leaves its parent's root alone.
    """
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None or _scratch_root[0] != os.getpid():
            root = tempfile.mkdtemp(prefix="apache_iceberg_spark_")
            _scratch_root = (os.getpid(), root)
            atexit.register(_remove_scratch_root, *_scratch_root)
        path = os.path.join(_scratch_root[1], f"{prefix}{next(_scratch_ids)}")
        os.mkdir(path)
    return path


def _remove_scratch_root(owner_pid: int, root: str) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one parquet table (column pruning + predicate pushdown
    flow to the parquet reader automatically — SURVEY.md §4).

    `events.ts` normalizes to session-timezone TIMESTAMP whatever the
    driver generated: TIMESTAMP(NANOS) fixtures read as nano-epoch longs
    (via ``spark.sql.legacy.parquet.nanosAsLong``) and convert by exact
    integer division — the same truncation DuckDB applies; TIMESTAMP
    (MICROS, isAdjustedToUTC=false) fixtures read as TIMESTAMP_NTZ and
    cast (exact under the UTC session zone, and what DuckDB's plain
    timestamp read does).
    """
    if name == "events":
        # Defensive: the driver may call queries() with its own session
        # (without session.get_spark's confs); a bare read of
        # TIMESTAMP(NANOS) parquet throws PARQUET_TYPE_ILLEGAL. The conf
        # is runtime-settable, so pin it at the call site.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_BYTE_SUFFIXES = {
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "b": 1, "": 1,
}


def _parse_byte_conf(value: str, default: int = 134_217_728) -> int:
    """Spark size-conf parser ('134217728', '128m', '1g', '512kb', …).
    An external session may set any of these forms; an unparseable value
    falls back to the Spark default rather than crashing the scan."""
    v = value.strip().lower()
    num = v.rstrip("kmgtb")
    mult = _BYTE_SUFFIXES.get(v[len(num):], None)
    try:
        parsed = int(num) * mult if mult else default
    except ValueError:
        return default
    # '0' (or any non-positive size) would divide-by-zero the split
    # estimate downstream — treat it as unparseable
    return parsed if parsed >= 1 else default


#: Compressed input bytes per round-robin partition when spreading a
#: small single-split file for CPU-heavy work (r17, guide §2.2 — size
#: shuffle partitions from input bytes, not core count). The r16 driver
#: scaling block measured the old defaultParallelism spread ACTIVELY
#: slower at 32 cores than 8 on the text/dedup family (ratios 0.52-0.70:
#: 32 partitions of a 0.6 MB table are scheduling overhead, not
#: parallelism). 64 KiB compressed (~3x expanded in memory) keeps each
#: task large enough to amortize launch cost while still spreading an
#: expression-heavy fold; at any real scale est_splits exceeds the
#: clamp and this constant is inert. Override: $SPARK_GRAFT_PARALLEL_CHUNK.
PARALLEL_CHUNK_BYTES = int(
    os.environ.get("SPARK_GRAFT_PARALLEL_CHUNK", 64 << 10)
)

#: Bytes-per-task for FOLD-ONLY pipelines (shingle/minhash builds that
#: write or reduce immediately, with no downstream shuffle stages): the
#: per-byte CPU of a text-shingle fold is roughly an order of magnitude
#: above a columnar scan's, so its tasks saturate cores at ~1/8 the
#: chunk. Measured (in-session alternating A/B, sf0.1 documents): the
#: index fold at 64 KiB chunks ran 2.1-2.6 s vs 1.5-2.0 s fully spread;
#: a single-split micro-batch fold dropped 1.7 s -> 0.54 s at 8 tasks.
FOLD_CHUNK_BYTES = max(1, PARALLEL_CHUNK_BYTES // 8)


def load_table_parallel(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    partitions: int | None = None,
    chunk_bytes: int | None = None,
) -> DataFrame:
    """Scan + round-robin repartition for CPU-heavy per-row operators.

    Small parquet files arrive as a single input split; expression-heavy
    pipelines (shingling, hashing, scoring) would then run on one core. A
    repartition spreads rows across the cluster — at 100 TB the scan has
    thousands of natural splits and this becomes a no-op. The split-count
    estimate comes from file size vs ``spark.sql.files.maxPartitionBytes``
    (no ``df.rdd`` probe: that forced a plan→RDD conversion per call,
    VERDICT r1 item 8).

    The spread target is SCALE-ADAPTIVE (r17): ``ceil(file_bytes /
    PARALLEL_CHUNK_BYTES)`` clamped to ``[1, defaultParallelism]`` — the
    partition count follows data volume up to the core count instead of
    pinning to it, so a 0.6 MB table no longer fans into 32
    near-empty tasks (the r16 8-vs-32-core scaling block's inversion).
    An explicit ``partitions`` argument still wins; ``chunk_bytes``
    overrides the per-task byte target (FOLD_CHUNK_BYTES for fold-only
    pipelines)."""
    df = load_table(spark, sf_dir, name)
    dp = spark.sparkContext.defaultParallelism
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        size = os.path.getsize(path)
    except OSError:
        return df.repartition(partitions or dp)
    if partitions is None:
        chunk = chunk_bytes or PARALLEL_CHUNK_BYTES
        partitions = max(1, min(dp, -(-size // chunk)))
    max_bytes = _parse_byte_conf(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    )
    est_splits = max(1, -(-size // max_bytes))
    if est_splits < partitions:
        df = df.repartition(partitions)
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Register each table as a temp view (S11 semantics: name → relation).

    Unlike the reference's ``table.scan().to_arrow()`` + ``conn.register``
    (full RAM materialization, ``query_iceberg.ipynb:209-214``), views here
    stay lazy: the scan plan only reads the columns/row-groups each query
    needs.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
