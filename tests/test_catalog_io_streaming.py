"""Catalog/DDL, export-sink, and streaming tests (SURVEY.md §2.10, §2.1
S9/S10, §2.8)."""

from __future__ import annotations

import csv
import os
import re

import pytest

from apache_iceberg_spark import catalog as cat
from apache_iceberg_spark.catalog.ddl import IcebergUnavailableError, read_snapshot
from apache_iceberg_spark.io import export_csv, export_parquet
from apache_iceberg_spark.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture()
def ns(spark):
    name = "cat_test"
    cat.create_namespace(spark, name)
    yield name
    cat.drop_namespace(spark, name, cascade=True)


def test_namespace_and_table_lifecycle(spark, ns):
    df = load_table(spark, SF_DIR, "nation")
    df.write.mode("overwrite").saveAsTable(f"{ns}.nations")
    assert ns in cat.list_namespaces(spark)
    tables = [r.tableName for r in cat.list_tables(spark, ns)]
    assert "nations" in tables
    schema = cat.describe_table(spark, f"{ns}.nations")
    assert ("n_name", "string") in schema
    loc = cat.table_location(spark, f"{ns}.nations")
    assert loc and "nations" in loc
    # C4: ignore-missing drop
    cat.drop_table(spark, f"{ns}.does_not_exist")
    cat.drop_table(spark, f"{ns}.nations")
    assert "nations" not in [r.tableName for r in cat.list_tables(spark, ns)]


def test_wipe_warehouse_double_confirmation(spark, ns):
    load_table(spark, SF_DIR, "region").write.saveAsTable(f"{ns}.t1")
    load_table(spark, SF_DIR, "region").write.saveAsTable(f"{ns}.t2")

    calls = []

    def deny_second(msg):
        calls.append(msg)
        return len(calls) < 2  # yes, then no

    assert cat.wipe_warehouse(spark, ns, deny_second) == []
    assert len(calls) == 2  # both prompts shown
    assert len(cat.list_tables(spark, ns)) == 2  # nothing deleted

    wiped = cat.wipe_warehouse(spark, ns, lambda _msg: True)
    assert sorted(wiped) == ["t1", "t2"]
    assert cat.list_tables(spark, ns) == []


def test_compact_table(spark, ns):
    df = load_table(spark, SF_DIR, "orders").repartition(16)
    df.write.saveAsTable(f"{ns}.frag")
    before = spark.table(f"{ns}.frag").count()
    n_parts = cat.compact_table(spark, f"{ns}.frag", target_partitions=2)
    assert n_parts == 2
    assert spark.table(f"{ns}.frag").count() == before
    files = [
        f
        for f in os.listdir(cat.table_location(spark, f"{ns}.frag").removeprefix("file:"))
        if f.startswith("part-")
    ]
    assert len(files) == 2


def test_iceberg_gated_ops_raise(spark):
    with pytest.raises(IcebergUnavailableError):
        read_snapshot(spark, "any.table", snapshot_id=1)


def test_export_csv_shape(spark, tmp_path):
    # S9 replay: 3-column projection of a string-filtered table, header on
    # (reference: wa_users.csv — 7 cols, state='WA', 489 rows).
    df = (
        load_table(spark, SF_DIR, "customer")
        .filter("c_mktsegment = 'MACHINERY'")
        .select("c_custkey", "c_name", "c_mktsegment")
    )
    out = str(tmp_path / "machinery_users.csv")
    export_csv(df, out)
    with open(out, newline="") as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == ["c_custkey", "c_name", "c_mktsegment"]
    assert len(rows) - 1 == df.count()
    assert all(r[2] == "MACHINERY" for r in rows[1:])
    assert len(os.listdir(tmp_path)) == 1  # exactly one output artifact


def test_export_parquet_roundtrip(spark, tmp_path):
    # S10 replay: full-width filtered export (reference: sports_fans.parquet).
    df = load_table(spark, SF_DIR, "customer").filter("c_acctbal > 5000.0")
    out = str(tmp_path / "rich_customers.parquet")
    export_parquet(df, out)
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert back.columns == df.columns


def test_streaming_matches_batch(spark):
    """Bounded stream == batch answer (the streaming correctness law)."""
    from apache_iceberg_spark.operators.timeseries import ts1_tumbling_agg
    from apache_iceberg_spark.streaming.events import st1_stream_tumbling

    got = {
        (r.window_start, r.event_type, r.n_events, r.value_cents)
        for r in st1_stream_tumbling(spark, SF_DIR).collect()
    }
    want = {
        (r.window_start, r.event_type, r.n_events, r.value_cents)
        for r in ts1_tumbling_agg(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution on the storage layout (SURVEY.md §1.3: the
    reference documents evolution as an Iceberg capability but never
    exercises it; with an Iceberg catalog this is ALTER TABLE ADD COLUMN
    + an ordinary read). On plain parquet the same add-a-column commit is
    readable via mergeSchema: old files surface NULL for the new column,
    new files carry values, one unified schema."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evolving")
    v1 = spark.range(5).select(F.col("id"), F.lit("a").alias("tag"))
    v1.write.parquet(path + "/batch=1")
    v2 = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("tag"), F.lit(1.5).alias("score")
    )
    v2.write.parquet(path + "/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"id", "tag", "score", "batch"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[0]["score"] is None and rows[6]["score"] == 1.5
    assert len(rows) == 8


def test_sqlite_catalog_direct_read(spark, tmp_path):
    """C11 (SURVEY §2.10): metadata-location resolution and all-tables
    listing straight from the JDBC/SQLite catalog layout, the reference's
    debug path (query_iceberg_minio.ipynb:108-124, 204-212)."""
    from apache_iceberg_spark.catalog.sqlite_catalog import (
        create_catalog_db,
        get_metadata_location,
        list_catalog_tables,
        register_table,
    )

    db = str(tmp_path / "iceberg_catalog.db")
    create_catalog_db(db)
    register_table(db, "ticketdb", "titles", "s3://wh/titles/metadata/v1.json")
    register_table(db, "ticketdb", "events", "s3://wh/events/metadata/v1.json")

    assert (
        get_metadata_location(db, "ticketdb", "titles")
        == "s3://wh/titles/metadata/v1.json"
    )
    with pytest.raises(ValueError, match="not found in catalog"):
        get_metadata_location(db, "ticketdb", "missing")

    # commit swap: re-registering retains the previous location
    register_table(db, "ticketdb", "titles", "s3://wh/titles/metadata/v2.json")
    assert (
        get_metadata_location(db, "ticketdb", "titles")
        == "s3://wh/titles/metadata/v2.json"
    )
    import sqlite3

    with sqlite3.connect(db) as conn:
        prev = conn.execute(
            "SELECT previous_metadata_location FROM iceberg_tables "
            "WHERE table_name = 'titles'"
        ).fetchone()[0]
    assert prev == "s3://wh/titles/metadata/v1.json"

    listing = list_catalog_tables(spark, db)
    rows = {(r.table_namespace, r.table_name) for r in listing.collect()}
    assert rows == {("ticketdb", "titles"), ("ticketdb", "events")}


def test_manifest_pruning_skips_files(spark, tmp_path):
    """m7's mechanism: a range-clustered write + per-file min/max manifest
    must let a narrow predicate plan a strict subset of the files, with
    row-exact results (the engine filter is re-applied)."""
    import datetime

    from apache_iceberg_spark.catalog.manifests import (
        scan_pruned_box,
        write_with_manifest,
    )

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    path = str(tmp_path / "orders_manifested")
    write_with_manifest(
        o, path, cluster_by="o_orderdate", track_cols=["o_orderdate"], n_files=8
    )
    lo = datetime.datetime(1995, 3, 1)
    hi = datetime.datetime(1995, 3, 31)
    df, files_total, files_read = scan_pruned_box(
        spark, path, [("o_orderdate", lo, hi)]
    )
    assert files_total == 8
    assert 0 < files_read < files_total, (files_read, files_total)
    expected = o.filter(
        (o["o_orderdate"] >= lo) & (o["o_orderdate"] <= hi)
    ).count()
    assert df.count() == expected


def test_manifest_prune_collects_only_survivors(spark, tmp_path):
    """Executor-side manifest pruning: the bounds test is a DataFrame
    filter on the manifest, so the driver collects exactly the kept
    files' rows (files_read), never the full file list — and NULL
    bounds (absent footer stats) survive the filter conservatively."""
    import datetime

    from apache_iceberg_spark.catalog.manifests import (
        MANIFEST_DIR,
        prune_condition,
        scan_pruned_box,
        write_with_manifest,
    )

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    path = str(tmp_path / "orders_manifested")
    write_with_manifest(
        o, path, cluster_by="o_orderdate", track_cols=["o_orderdate"], n_files=8
    )
    lo = datetime.datetime(1995, 3, 1)
    hi = datetime.datetime(1995, 3, 31)
    _, files_total, files_read = scan_pruned_box(
        spark, path, [("o_orderdate", lo, hi)]
    )
    manifest = spark.read.parquet(path + "/" + MANIFEST_DIR)
    survivors = manifest.filter(
        prune_condition([("o_orderdate", lo, hi)])
    ).count()
    # what reaches the driver is the survivor set — strictly smaller
    # than the manifest it was filtered from
    assert survivors == files_read
    assert files_read < files_total == 8

    null_bounds = spark.createDataFrame(
        [("f0", None, None)],
        "file_path string, min_o_orderdate timestamp, max_o_orderdate timestamp",
    )
    kept = null_bounds.filter(prune_condition([("o_orderdate", lo, hi)]))
    assert kept.count() == 1  # unknown bounds can never be pruned


def test_manifest_from_parquet_footers(spark, tmp_path):
    """write_with_manifest's bounds must equal the parquet footer
    row-group statistics (metadata-only), not a re-aggregation scan:
    verify against pyarrow's own reading of each file's footer."""
    import pyarrow.parquet as pq

    from apache_iceberg_spark.catalog.manifests import (
        MANIFEST_DIR,
        _local_path,
        write_with_manifest,
    )

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "orders_footer")
    write_with_manifest(
        o, path, cluster_by="o_orderkey", track_cols=["o_orderkey"], n_files=4
    )
    rows = spark.read.parquet(path + "/" + MANIFEST_DIR).collect()
    assert len(rows) == 4
    for r in rows:
        md = pq.ParquetFile(_local_path(r["file_path"])).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = names.index("o_orderkey")
        stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        assert r["record_count"] == md.num_rows
        assert r["min_o_orderkey"] == min(s.min for s in stats)
        assert r["max_o_orderkey"] == max(s.max for s in stats)


def test_manifest_round_trip_on_path_with_space(spark, tmp_path):
    """Spark lists files as percent-escaped URIs (a space is ``%20``);
    the footer kernel and the pruned read must open the real path."""
    import datetime

    from apache_iceberg_spark.catalog.manifests import (
        scan_pruned_box,
        write_with_manifest,
    )

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    path = str(tmp_path / "sp ace" / "orders")
    write_with_manifest(
        o, path, cluster_by="o_orderdate", track_cols=["o_orderdate"], n_files=4
    )
    lo = datetime.datetime(1995, 3, 1)
    hi = datetime.datetime(1995, 3, 31)
    df, files_total, files_read = scan_pruned_box(
        spark, path, [("o_orderdate", lo, hi)]
    )
    assert 0 < files_read < files_total == 4
    expected = o.filter(
        (o["o_orderdate"] >= lo) & (o["o_orderdate"] <= hi)
    ).count()
    assert df.count() == expected


def test_footer_stats_without_statistics_gives_null_bounds(spark, tmp_path):
    """A file written without column statistics gets NULL bounds and its
    true record count from the kernel, and pruning keeps it; a file with
    statistics outside the box is still pruned."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, LongType, StructField

    from apache_iceberg_spark.catalog.manifests import (
        MANIFEST_DIR,
        footer_stats,
        scan_pruned_box,
    )

    data = tmp_path / "t" / "data"
    data.mkdir(parents=True)

    def part(name, lo, stats):
        keys = list(range(lo, lo + 100))
        table = pa.table({"k": keys, "v": [k / 4 for k in keys]})
        pq.write_table(
            table, str(data / name), write_statistics=stats, row_group_size=40
        )

    part("a.parquet", 0, False)
    part("b.parquet", 1000, True)
    files = spark.read.parquet(str(data)).inputFiles()
    fields = [StructField("k", LongType()), StructField("v", DoubleType())]
    stats = footer_stats(spark, files, fields)
    rows = {r["file_path"].rsplit("/", 1)[1]: r for r in stats.collect()}
    a, b = rows["a.parquet"], rows["b.parquet"]
    assert a["record_count"] == b["record_count"] == 100
    assert [a["min_k"], a["max_k"], a["min_v"], a["max_v"]] == [None] * 4
    assert (b["min_k"], b["max_k"], b["min_v"], b["max_v"]) == (
        1000, 1099, 250.0, 274.75
    )

    stats.write.parquet(str(tmp_path / "t" / MANIFEST_DIR))
    df, files_total, files_read = scan_pruned_box(
        spark, str(tmp_path / "t"), [("k", 10, 20)]
    )
    assert (files_total, files_read) == (2, 1)
    assert sorted(r["k"] for r in df.collect()) == list(range(10, 21))


def test_m23_without_footer_statistics_names_column_and_file(spark, tmp_path):
    """m23 answers only from footer statistics: on tables written without
    them it fails, naming the column and the file, instead of returning
    NULL aggregates."""
    import pyarrow.parquet as pq

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    sf = tmp_path / "sf_nostats"
    sf.mkdir()
    for t in ("lineitem", "orders"):
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet"),
            str(sf / f"{t}.parquet"),
            write_statistics=False,
        )
    _ensure_loaded()
    with pytest.raises(Exception) as err:
        REGISTRY["m23_metadata_only_aggregates"].spark(spark, str(sf)).collect()
    msg = str(err.value)
    assert re.search(
        r"m23: footer statistics missing for "
        r"(lineitem\.l_quantity|lineitem\.l_extendedprice|orders\.o_totalprice)"
        r" in file:\S*sf_nostats/(lineitem|orders)\.parquet",
        msg,
    ), msg


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """m8's mechanism: under a Z-order layout, a selective 2-D box must
    prune files on BOTH tracked columns — strictly fewer files than the
    full set, and at least as few as either single-dimension bound
    alone."""
    import pyspark.sql.functions as F

    from apache_iceberg_spark.catalog.manifests import write_with_manifest
    from apache_iceberg_spark.operators.scale import zorder_code

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("o_day"),
    )
    z = o.withColumn("zcode", zorder_code("o_custkey", "o_day"))
    path = str(tmp_path / "orders_zordered")
    write_with_manifest(
        z, path, cluster_by="zcode", track_cols=["o_custkey", "o_day"], n_files=8
    )
    rows = spark.read.parquet(path + "/_manifest").collect()
    assert len(rows) == 8

    def overlaps_cust(r):
        return not (r["max_o_custkey"] < 100 or r["min_o_custkey"] > 300)

    def overlaps_day(r):
        return not (r["max_o_day"] < 1096 or r["min_o_day"] > 1460)

    both = [r for r in rows if overlaps_cust(r) and overlaps_day(r)]
    assert 0 < len(both) < len(rows), len(both)
    assert len(both) <= len([r for r in rows if overlaps_cust(r)])
    assert len(both) <= len([r for r in rows if overlaps_day(r)])


def test_snapshot_store_time_travel_and_expiry(spark, tmp_path):
    """The versioned-directory snapshot store (catalog/snapshots.py — the
    fallback twin of Iceberg snapshot commit/read/expire): commits are
    copy-on-write, time travel works by version AND by timestamp, and
    expiry honors older_than + retain_last without touching survivors."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_snapshot,
        expire_snapshots_dirs,
        list_snapshots,
        read_snapshot_dirs,
    )

    table = str(tmp_path / "t")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(8).withColumnRenamed("id", "k")
    df3 = spark.range(2).withColumnRenamed("id", "k")
    assert commit_snapshot(df1, table, ts_ms=1000) == 1
    assert commit_snapshot(df2, table, ts_ms=2000) == 2
    assert commit_snapshot(df3, table, ts_ms=3000) == 3

    # version + timestamp time travel; latest by default
    assert read_snapshot_dirs(spark, table).count() == 2
    assert read_snapshot_dirs(spark, table, version=1).count() == 5
    assert read_snapshot_dirs(spark, table, as_of_ts_ms=2500).count() == 8
    with pytest.raises(ValueError, match="not found"):
        read_snapshot_dirs(spark, table, version=9)
    with pytest.raises(ValueError, match="at or before"):
        read_snapshot_dirs(spark, table, as_of_ts_ms=500)

    # expiry: drop v1 (old), retain v2 (not old enough? it is — but
    # keep_last protects only v3); survivors unaffected
    expired = expire_snapshots_dirs(table, older_than_ms=2500, keep_last=1)
    assert expired == [1, 2]
    assert [e["version"] for e in list_snapshots(table)] == [3]
    assert read_snapshot_dirs(spark, table).count() == 2
    with pytest.raises(ValueError, match="not found"):
        read_snapshot_dirs(spark, table, version=1)


def test_snapshot_append_sharing_and_incremental(spark, tmp_path):
    """Append commits share data files by reference (Iceberg's manifest
    mechanism): the incremental scan returns exactly the appended rows,
    overwrite-in-range raises, and expiring a parent snapshot must NOT
    delete directories a retained append snapshot still references."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        expire_snapshots_dirs,
        read_incremental,
        read_snapshot_dirs,
    )

    table = str(tmp_path / "t")
    base = spark.range(10).withColumnRenamed("id", "k")
    v1 = commit_snapshot(base, table, ts_ms=1000)
    with pytest.raises(ValueError, match="commit_snapshot first"):
        commit_append(base, str(tmp_path / "empty"))
    v2 = commit_append(
        spark.range(10, 13).withColumnRenamed("id", "k"), table, ts_ms=2000
    )
    v3 = commit_append(
        spark.range(13, 15).withColumnRenamed("id", "k"), table, ts_ms=3000
    )
    # snapshots see base + their appends; earlier reads are isolated
    assert read_snapshot_dirs(spark, table, version=v1).count() == 10
    assert read_snapshot_dirs(spark, table, version=v2).count() == 13
    assert read_snapshot_dirs(spark, table).count() == 15
    # incremental: (v1, v3] = both appends; (v2, v3] = last; (v3, v3] = 0
    inc = read_incremental(spark, table, from_version=v1)
    assert sorted(r.k for r in inc.collect()) == list(range(10, 15))
    assert read_incremental(spark, table, v2, v3).count() == 2
    assert read_incremental(spark, table, v3, v3).count() == 0
    # overwrite breaks the append chain for ranges that cross it
    v4 = commit_snapshot(base, table, ts_ms=4000)
    with pytest.raises(ValueError, match="overwrite"):
        read_incremental(spark, table, v1, v4)
    # expiring v1..v2 must keep the base dir alive: v3 references it
    expired = expire_snapshots_dirs(table, older_than_ms=2500, keep_last=2)
    assert expired == [v1, v2]
    assert read_snapshot_dirs(spark, table, version=v3).count() == 15


def test_snapshot_timestamp_travel_out_of_order_log(spark, tmp_path):
    """commit_snapshot accepts caller-supplied ts_ms, so the commit log
    need not be ts-ordered; TIMESTAMP AS OF must resolve to the max
    timestamp at-or-before, not the log tail (a backdated commit after a
    newer one must not shadow it)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_snapshot,
        read_snapshot_dirs,
    )

    table = str(tmp_path / "t_ooo")
    commit_snapshot(spark.range(3).withColumnRenamed("id", "k"), table, ts_ms=1000)
    commit_snapshot(spark.range(7).withColumnRenamed("id", "k"), table, ts_ms=5000)
    # backdated commit: logged last, but timestamped between the two
    commit_snapshot(spark.range(4).withColumnRenamed("id", "k"), table, ts_ms=2000)
    assert read_snapshot_dirs(spark, table, as_of_ts_ms=6000).count() == 7
    assert read_snapshot_dirs(spark, table, as_of_ts_ms=2500).count() == 4
    assert read_snapshot_dirs(spark, table, as_of_ts_ms=1500).count() == 3


def test_streaming_checkpoint_recovery(spark, tmp_path):
    """Exactly-once incremental processing across restarts: a file-source
    stream with a durable checkpoint processes batch 1, 'stops' (the
    availableNow trigger drains and terminates), new files arrive, and a
    RESTARTED query on the same checkpoint processes ONLY the new files —
    no reprocessing, no loss (the Iceberg-sink ingestion contract)."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 100).withColumn("batch", F.lit("one")).write.parquet(
        src + "/f1"
    )
    schema = "id long, batch string"

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src + "/*")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 100

    # new data lands while the stream is down
    spark.range(100, 130).withColumn("batch", F.lit("two")).write.parquet(
        src + "/f2"
    )
    run_once()
    after = spark.read.parquet(sink)
    # 130 total: batch one NOT reprocessed (exactly-once), batch two added
    assert after.count() == 130
    assert after.filter(F.col("batch") == "one").count() == 100
    assert after.filter(F.col("batch") == "two").count() == 30

    # idempotent restart with no new data: nothing processed
    run_once()
    assert spark.read.parquet(sink).count() == 130


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Late-data handling: with a watermark in append mode, an event
    arriving after the watermark has passed its window is DROPPED — the
    bounded-state guarantee that makes streaming aggregation viable at
    scale (state for closed windows is evicted, so late stragglers
    cannot resurrect them)."""
    import datetime

    import pyspark.sql.functions as F

    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "ts timestamp, v long").write.parquet(
            f"{src}/{name}"
        )

    # batch 1: events in hours 00 and 05 — watermark advances to 05-1h=04
    write_batch("b1", [(base, 1), (base + datetime.timedelta(hours=5), 1)])

    def run_once():
        q = (
            spark.readStream.schema("ts timestamp, v long")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src + "/*")
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # batch 2: one punctual event (hour 06) + one LATE event for hour 00,
    # whose window closed when the watermark passed 01:00
    write_batch(
        "b2",
        [
            (base + datetime.timedelta(hours=6), 1),
            (base + datetime.timedelta(minutes=30), 99),  # late straggler
        ],
    )
    run_once()
    run_once()  # drain: emit windows finalized by the last advance
    got = {
        r.ws: r.n for r in spark.read.parquet(sink).collect()
    }
    # hour-00 window must count ONLY the original event: the straggler
    # arrived after its window was finalized and was dropped from state
    assert got.get(base) == 1, got


# --- round 13: SQL-text table@ref resolution ---------------------------------


def test_resolve_at_ref_sql_rewrites_addresses_outside_literals():
    from apache_iceberg_spark.catalog.snapshots import resolve_at_ref_sql

    sql = (
        "SELECT 'customer@etl' AS label, COUNT(*) "
        "FROM customer@etl e JOIN orders@main o ON e.k = o.k "
        "WHERE e.mail <> 'a@b.com'"
    )
    out, views = resolve_at_ref_sql(sql)
    assert views == {
        "__at_ref__customer__etl": ("customer", "etl"),
        "__at_ref__orders__main": ("orders", "main"),
    }
    # FROM/JOIN positions rewritten, string literals untouched
    assert "FROM __at_ref__customer__etl e" in out
    assert "JOIN __at_ref__orders__main o" in out
    assert "'customer@etl'" in out
    assert "'a@b.com'" in out


def test_resolve_at_ref_sql_dedups_and_escaped_quotes():
    from apache_iceberg_spark.catalog.snapshots import resolve_at_ref_sql

    sql = (
        "SELECT * FROM t@b x, t@b y WHERE x.s = 'it''s o@k'"
    )
    out, views = resolve_at_ref_sql(sql)
    assert views == {"__at_ref__t__b": ("t", "b")}
    assert out.count("__at_ref__t__b") == 2
    assert "'it''s o@k'" in out


def test_sql_at_ref_executes_against_branch_heads(spark, tmp_path):
    import pyspark.sql.functions as F

    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot,
        create_branch,
        sql_at_ref,
    )

    c = load_table(spark, SF_DIR, "customer")
    table = str(tmp_path / "customer")
    commit_snapshot(c.filter(F.col("c_custkey") % 2 == 0), table)
    create_branch(table, "audit")
    commit_append_ref(
        c.filter(F.col("c_custkey") % 2 == 1), table, branch="audit"
    )
    rows = sql_at_ref(
        spark,
        str(tmp_path),
        "SELECT (SELECT COUNT(*) FROM customer@main) AS n_main, "
        "(SELECT COUNT(*) FROM customer@audit) AS n_audit",
    ).collect()[0]
    import pyspark.sql.functions as F2

    assert rows["n_audit"] == c.count()
    assert rows["n_main"] == c.filter(F2.col("c_custkey") % 2 == 0).count()
    assert rows["n_main"] < rows["n_audit"]
