"""File-level manifest pruning — Iceberg's core read mechanism, emulated.

An Iceberg read resolves ``metadata.json`` → manifest list → manifests,
where each manifest row carries per-file column bounds (lower/upper), and
plans only the data files whose bounds intersect the query predicate
(SURVEY.md §3.3: "metadata.json → manifest lists → manifests → pruned
parquet splits"). Without ``iceberg-spark-runtime`` on the classpath the
real format is unreachable (README "Iceberg runtime status"), so this
module reproduces the *mechanism* on plain parquet:

- ``footer_stats``: the one per-file statistics kernel. A distributed
  ``mapInPandas`` pass over a file list opens each parquet FOOTER once
  (``pyarrow`` metadata only, never a data page) and returns one row per
  file: ``file_path``, ``record_count`` and ``min_<c>``/``max_<c>`` for
  every requested column, typed like the source column. A column gets
  NULL bounds in a file when any of its row groups lacks usable
  statistics (written without them, or all-NULL); callers decide whether
  NULL means "keep the file" (pruning) or "fail" (answering a query
  from metadata, as m19/m23 do). Every URI goes through ``_local_path``,
  which decodes ``file:`` percent-escapes (a space in the table path, a
  hive partition value like ``4-NOT SPECIFIED``).
- ``write_with_manifest``: range-partition the data by a clustering key
  (so each file owns a narrow key range — Iceberg's sort-order write),
  write parquet, and store ``footer_stats`` of the written files as one
  manifest parquet — O(files) metadata I/O, not a second O(data) scan.
- ``scan_pruned_box``: filter the manifest *as a DataFrame* with the
  bounds predicates (executor-side, like Iceberg's manifest evaluator)
  and collect only the surviving file paths — the driver never holds
  non-matching files' bounds. NULL bounds are kept conservatively. The
  engine predicate is still applied for row-level exactness — manifest
  pruning is an I/O optimization, never a correctness device.

At 100 TB this is the difference between scanning a table and scanning
the 0.1% of files a date/key predicate touches; the manifest itself
scales as one row per file and is itself a parquet table, queryable and
partitionable like Iceberg's, and the pruning predicate runs where the
manifest partitions live.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

MANIFEST_DIR = "_manifest"


def _local_path(uri: str) -> str:
    """file: URI → filesystem path, percent-escapes decoded (plain paths
    pass through unchanged)."""
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def footer_stats(
    spark: SparkSession, files: list[str], fields: list[StructField]
) -> DataFrame:
    """One row per file of ``files``: ``file_path``, ``record_count`` and
    ``min_<c>``/``max_<c>`` for each field of ``fields``, typed by the
    field. Each footer is read once for all fields; a field's bounds are
    NULL when any row group lacks usable min/max statistics."""
    out_schema = StructType(
        [
            StructField("file_path", StringType()),
            StructField("record_count", LongType()),
        ]
        + [
            StructField(f"{bound}_{f.name}", f.dataType)
            for f in fields
            for bound in ("min", "max")
        ]
    )
    cols = [f.name for f in fields]

    def read_footers(batches: Iterator) -> Iterator:
        import datetime

        import pandas as pd
        import pyarrow.parquet as pq

        def to_naive(v):
            # Footer timestamps are absolute (UTC-adjusted); Spark's
            # Arrow bridge expects session-local naive datetimes.
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                return v.astimezone().replace(tzinfo=None)
            return v

        for pdf in batches:
            rows = []
            for uri in pdf["file_path"]:
                md = pq.ParquetFile(_local_path(uri)).metadata
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                row = [uri, md.num_rows]
                for c in cols:
                    idx = names.index(c)
                    stats = [
                        md.row_group(rg).column(idx).statistics
                        for rg in range(md.num_row_groups)
                    ]
                    if stats and all(s is not None and s.has_min_max for s in stats):
                        row += [
                            to_naive(min(s.min for s in stats)),
                            to_naive(max(s.max for s in stats)),
                        ]
                    else:
                        row += [None, None]
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    return (
        spark.createDataFrame([(f,) for f in files], "file_path string")
        .repartition(min(len(files), 32) or 1)
        .mapInPandas(read_footers, out_schema)
    )


def write_with_manifest(
    df: DataFrame,
    path: str,
    cluster_by: str,
    track_cols: list[str],
    n_files: int = 8,
) -> None:
    """Write ``df`` clustered on ``cluster_by`` into ``n_files`` files and
    build a per-file min/max manifest for ``track_cols``.

    ``repartitionByRange`` gives each output file a disjoint key range —
    the write-side half of pruning (unsorted files all overlap and
    nothing can be skipped). The manifest is ``footer_stats`` of the
    written files: no data pages are read, and a column whose footer
    lacks usable stats gets NULL bounds, which ``scan_pruned_box`` keeps
    conservatively.
    """
    spark = df.sparkSession
    data_dir = os.path.join(path, "data")
    (
        df.repartitionByRange(n_files, F.col(cluster_by))
        .sortWithinPartitions(cluster_by)
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    # Listing is planner-scale metadata; the footer reads are distributed.
    files = spark.read.parquet(data_dir).inputFiles()
    manifest = footer_stats(spark, files, [df.schema[c] for c in track_cols])
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, MANIFEST_DIR)
    )


def prune_condition(predicates: list[tuple]) -> F.Column:
    """Manifest-row survival condition for a list of (col, lo, hi) box
    predicates: a file survives when its bounds intersect EVERY box edge,
    and NULL bounds (absent/unusable footer stats) are kept
    conservatively — the expression form of ``Iceberg``'s
    InclusiveMetricsEvaluator."""
    cond = F.lit(True)
    for c, lo, hi in predicates:
        mn, mx = F.col(f"min_{c}"), F.col(f"max_{c}")
        overlap = mn.isNull() | mx.isNull() | ((mx >= F.lit(lo)) & (mn <= F.lit(hi)))
        cond = cond & overlap
    return cond


def scan_pruned_box(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
) -> tuple[DataFrame, int, int]:
    """Plan a read of ``lo <= col <= hi`` for every (col, lo, hi) in
    ``predicates`` through the manifest: keep the files whose bounds
    intersect every predicate — the m7 range read and the m8/Z-order box
    read. Returns (dataframe, files_total, files_read). The bounds test
    is a DataFrame filter on the manifest (distributed; only survivors'
    ``file_path`` values are collected — at 10⁶ files the driver sees the
    kept list, not every file's bounds). The row-level predicate is
    re-applied so pruning can only skip I/O, never change results. An
    all-pruned plan returns an empty frame with the table's schema
    rather than an unreadable zero-path scan."""
    manifest = spark.read.parquet(os.path.join(path, MANIFEST_DIR))
    total = manifest.count()
    keep = [
        r["file_path"]
        for r in manifest.filter(prune_condition(predicates))
        .select("file_path")
        .collect()
    ]
    df = (
        spark.read.parquet(*map(_local_path, keep))
        if keep
        else spark.read.parquet(os.path.join(path, "data")).limit(0)
    )
    cond = None
    for c, lo, hi in predicates:
        p = (F.col(c) >= lo) & (F.col(c) <= hi)
        cond = p if cond is None else (cond & p)
    return df.filter(cond), total, len(keep)
