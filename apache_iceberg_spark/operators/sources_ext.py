"""Source/sink round-trip operators: JSONL and CSV.

The reference ingests CSV only (SURVEY.md §2.1 S1-S4); a training-data
pipeline also speaks JSONL (the lingua franca of LLM corpora). These
queries prove the write→read path is lossless for every column type by
round-tripping `documents` through a temp directory and letting the
oracle compare the result against the original table.

Scale notes: both writers produce one file per partition (full write
parallelism); the read back is a normal multi-split scan. The temp dir is
driver-local here; at scale the path is object storage.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from apache_iceberg_spark.registry import register
from apache_iceberg_spark.tables import load_table, scratch

_DOC_ORACLE = "SELECT doc_id, text, lang, source, n_chars FROM documents"
_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@register(
    "s13_jsonl_roundtrip",
    oracle=_DOC_ORACLE,
    doc="JSONL sink → source round trip of the documents table (schema "
    "pinned on read so types survive; JSON string escaping must be "
    "lossless for arbitrary text). Oracle compares against the original "
    "rows — any encode/decode drift fails the hash.",
    tags=("source", "sink", "json"),
)
def s13_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
    path = os.path.join(scratch("jsonl_rt_"), "docs")
    d.write.mode("overwrite").json(path)
    return spark.read.schema(d.schema).json(path).select(*_DOC_COLS)


@register(
    "s14_csv_roundtrip",
    oracle=_DOC_ORACLE,
    doc="CSV sink → source round trip of the documents table with the "
    "loader's read options (header, multiLine for embedded newlines, "
    "pinned schema — SURVEY.md §1.3). Proves quoting/escaping is "
    "lossless in both directions, the property the reference's "
    "newlines_in_values=True read depends on.",
    tags=("source", "sink", "csv"),
)
def s14_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
    path = os.path.join(scratch("csv_rt_"), "docs")
    # emptyValue/nullValue pinned SYMMETRICALLY on both directions:
    # Spark's CSV reader otherwise turns an empty-string field back into
    # NULL, so a document with text='' would silently break the lossless
    # round trip (r1 ADVICE item 4).
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .option("emptyValue", '""')
        .option("nullValue", "\\N")
        .csv(path)
    )
    return (
        spark.read.schema(d.schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("emptyValue", "")
        .option("nullValue", "\\N")
        .csv(path)
        .select(*_DOC_COLS)
    )


@register(
    "s12_csv_ingest_inference",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents "
    "WHERE n_chars = length(text)",
    doc="The reference's core ingestion semantic (SURVEY.md §2.1 S1 + "
    "§1.2/1.3) under the oracle gate: documents exported to CSV, read "
    "back through ingest.loader.read_csv — header + schema INFERENCE + "
    "multiLine + the 8-type restriction surface — with no pinned schema. "
    "Inference must reproduce the original types (BIGINT/VARCHAR here) "
    "or the driver's schema compare fails. The length guard keeps rows "
    "whose text round-trips byte-exact (all of them — it doubles as a "
    "correctness predicate the oracle applies identically).",
    tags=("source", "ingest", "csv"),
)
def s12_csv_ingest_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.ingest.loader import read_csv

    d = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
    path = os.path.join(scratch("csv_ing_"), "docs")
    d.write.mode("overwrite").option("header", True).option("escape", '"').csv(path)
    out = read_csv(spark, path)
    return out.filter(F.col("n_chars") == F.length("text")).select(*_DOC_COLS)


@register(
    "s9_csv_export_single",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="S9 single-file CSV export (COPY ... TO 'f.csv' HEADER shape, "
    "query_iceberg.ipynb:1332-1336) through io.export.export_csv — "
    "coalesce(1) + rename to one artifact file — then read back with a "
    "pinned schema. Oracle is the exported SELECT itself: the sink must "
    "be lossless. The coalesce applies only to the filtered export "
    "result, matching the reference's semantics (never the full table).",
    tags=("sink", "export", "csv"),
)
def s9_csv_export_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.io.export import export_csv

    o = load_table(spark, sf_dir, "orders")
    sel = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = os.path.join(scratch("export_"), "urgent.csv")
    export_csv(sel, path)
    return (
        spark.read.schema(sel.schema).option("header", True).csv(path)
    )


@register(
    "s10_parquet_export_single",
    oracle="""
        SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="S10 single-file Parquet export (COPY ... TO FORMAT PARQUET, "
    "query_iceberg.ipynb:1388-1391) through io.export.export_parquet, "
    "read back. Oracle is the exported SELECT: lossless, typed sink.",
    tags=("sink", "export", "parquet"),
)
def s10_parquet_export_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.io.export import export_parquet

    l = load_table(spark, sf_dir, "lineitem")
    sel = l.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    path = os.path.join(scratch("export_"), "returns.parquet")
    export_parquet(sel, path)
    return spark.read.parquet(path)


@register(
    "s15_partitioned_export",
    oracle="""
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
    doc="Partitioned parquet export — the documented 100x swap for every "
    "single-writer export in this repo (io/export.py's scale path, cited "
    "by pp1/s10): df.write.partitionBy(lang) lays the corpus out as "
    "lang=<v>/part-*.parquet (the Iceberg identity-partition transform "
    "on plain parquet), every writer task streams its own files — no "
    "coalesce(1) serialization point — and the read-back proves the "
    "round trip lossless including the partition column's value "
    "reconstruction from directory names. At 100 TB this is the only "
    "export shape that works; it also makes every downstream lang-"
    "filtered read partition-pruned (m3's mechanism).",
    tags=("sink", "export", "parquet", "partitioned"),
)
def s15_partitioned_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sel = d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
    )
    path = os.path.join(scratch("export_"), "by_lang")
    sel.write.partitionBy("lang").parquet(path)
    return spark.read.parquet(path).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "s16_permissive_csv_ingest",
    oracle="""
        SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders
        WHERE o_orderkey % 50 = 0
        GROUP BY o_orderstatus
        UNION ALL
        SELECT '_corrupt', 3
    """,
    doc="Corrupt-record-tolerant CSV ingest — the scale counterpart of "
    "the reference loader's all-or-nothing Arrow parse "
    "(bot_iceberg_loader.py:178-187 aborts the whole load on one bad "
    "line; unacceptable against a 100 TB crawl drop): Spark's "
    "PERMISSIVE mode parses every well-formed row, routes unparseable "
    "lines into a columnNameOfCorruptRecord side-channel, and the "
    "ingest report counts both — so one poisoned file costs its bad "
    "rows, not the job. The fixture CSV is a clean export of an orders "
    "slice with three malformed lines appended (wrong arity, bad "
    "integer, empty key); the oracle states the expected good counts "
    "plus the corrupt tally.",
    tags=("source", "csv", "robustness"),
)
def s16_permissive_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.io.export import export_csv

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    path = os.path.join(scratch("csv_"), "orders.csv")
    export_csv(o, path)
    with open(path, "a") as f:
        f.write("not_a_number,O\n")        # bad integer
        f.write("12345\n")                  # wrong arity
        f.write(",,,too,many,columns\n")    # wrong arity + empty key
    raw = (
        spark.read.schema("o_orderkey LONG, o_orderstatus STRING, _bad STRING")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    ).cache()  # Spark disallows corrupt-column-only filters on a raw scan  # plan-cache
    good = (
        raw.filter(F.col("_bad").isNull())
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n_rows"))
    )
    bad = raw.filter(F.col("_bad").isNotNull()).agg(
        F.lit("_corrupt").alias("status"), F.count("*").alias("n_rows")
    )
    return good.unionByName(bad)


@register(
    "s17_orc_roundtrip",
    oracle=_DOC_ORACLE,
    doc="ORC sink → source round trip of the documents table — the third "
    "columnar format Spark speaks natively (after parquet/CSV/JSONL: "
    "S1/S9/S10/s13), common as an interchange format with Hive-era "
    "warehouses. Schema pinned on read; oracle compares against the "
    "original rows so any encode/decode drift fails the hash. Same "
    "scale shape as the other round-trips: one file per partition on "
    "write, normal multi-split scan on read.",
    tags=("source", "sink", "orc"),
)
def s17_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(*_DOC_COLS)
    path = os.path.join(scratch("orc_rt_"), "docs")
    d.write.mode("overwrite").orc(path)
    return spark.read.schema(d.schema).orc(path).select(*_DOC_COLS)


@register(
    "s18_dynamic_partition_overwrite",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'P'
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2
                    ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
               END AS price_cents
        FROM orders
    """,
    doc="Dynamic partition overwrite — the lakehouse write mode that "
    "makes daily partition restatement affordable (Spark's "
    "partitionOverwriteMode=dynamic; Iceberg's overwrite-by-filter is "
    "the same contract): the full table lands hive-partitioned by "
    "o_orderstatus, then a corrected batch containing ONLY status-'P' "
    "rows (prices doubled) overwrites in dynamic mode — the writer "
    "replaces exactly the partitions present in the incoming data and "
    "leaves 'O'/'F' untouched (static mode would truncate the whole "
    "table first, the classic data-loss foot-gun this mode exists to "
    "fix). At 100 TB the restatement writes one partition's bytes, "
    "never the table's. The final read proves both halves: untouched "
    "partitions serve their ORIGINAL files, the corrected partition "
    "serves the new ones; the oracle recomputes the same end state "
    "from the raw table with a CASE.",
    tags=("sources", "write", "partition"),
)
def s18_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    path = os.path.join(scratch("dynpo_"), "orders")
    o.write.partitionBy("o_orderstatus").parquet(path)
    corrected = o.filter(F.col("o_orderstatus") == "P").withColumn(
        "price_cents", F.col("price_cents") * 2
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return spark.read.parquet(path).select(
        "o_orderkey",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        "price_cents",
    )


# --- s21: single-file JSONL export (round 12) ---------------------------------


@register(
    "s21_jsonl_export_single",
    oracle="""
        SELECT n_nationkey, n_regionkey, n_name
        FROM nation WHERE n_regionkey < 3 ORDER BY n_nationkey
    """,
    doc="Single-file JSONL export (io.export.export_jsonl) — the "
    "COPY-TO shape's third format next to s9 (CSV) and s10 (parquet), "
    "and the exact-path single-file contract s13's directory-sink "
    "JSONL roundtrip does not cover: coalesce to one "
    "writer, stage, move the part file to the exact requested path, "
    "then read it back with the explicit schema and prove the "
    "roundtrip byte-equivalent against the raw table. Integer and "
    "string columns only (float-through-JSON-text is a formatting "
    "roundtrip no engine pair guarantees bitwise). The single output "
    "file is inherently single-writer — export-sized results only; a "
    "TB-scale JSONL sink uses df.write.json directly with full "
    "parallelism (JSONL is newline-delimited, so it splits at "
    "maxPartitionBytes on read either way — the ask-#6 CSV fast "
    "path's property, free).",
    tags=("source", "export", "json"),
)
def s21_jsonl_export_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.io.export import export_jsonl

    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_regionkey") < 3
    ).select("n_nationkey", "n_regionkey", "n_name")
    path = os.path.join(scratch("jsonl_exp_"), "nation.jsonl")
    export_jsonl(n, path)
    out = spark.read.schema(
        "n_nationkey bigint, n_regionkey bigint, n_name string"
    ).json(path)
    return out.select("n_nationkey", "n_regionkey", "n_name").orderBy(
        "n_nationkey"
    )


# ---------------------------------------------------------------------------
# s22: compression-codec roundtrip (round 15)
# ---------------------------------------------------------------------------

S22_CODECS = ("snappy", "gzip", "zstd")


@register(
    "s22_codec_roundtrip",
    oracle=f"""
        WITH agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS price_cents,
                   CAST(SUM(l_quantity) AS BIGINT) AS qty
            FROM lineitem
        )
        SELECT codec, n_rows, price_cents, qty
        FROM agg, (VALUES {", ".join(f"('{c}')" for c in S22_CODECS)})
             AS codecs(codec)
        ORDER BY codec
    """,
    doc="Parquet compression-codec roundtrip — snappy, gzip, and zstd "
    "writes of the lineitem fact each read back bit-identically (one "
    "row per codec pins the same row count + exact price/quantity "
    "sums against the source table). The operational knob this "
    "certifies: codec choice is a pure storage/CPU trade (zstd ~2x "
    "smaller than snappy at similar scan speed; gzip smallest, "
    "slowest) with ZERO semantic surface — a 100 TB lakehouse "
    "re-encodes cold partitions to zstd in place (m28's compaction "
    "planner decides when) and every reader is oblivious. Each "
    "roundtrip is one write job + one scan; the three reads union "
    "into one plan.",
    tags=("sources", "formats"),
)
def s22_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        F.expr(
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        ).alias("price_cents"),
    )
    base = scratch("s22_")
    out = None
    for codec in S22_CODECS:
        path = os.path.join(base, codec)
        li.write.option("compression", codec).parquet(path)
        r = (
            spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("price_cents").cast("long").alias("price_cents"),
                F.sum("l_quantity").cast("long").alias("qty"),
            )
            .select(F.lit(codec).alias("codec"), "*")
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("codec")
