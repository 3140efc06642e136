"""One-off instrumentation of st28's phases (guide §1 — measure first).

Replays _st28_run's exact structure with wall-clock timestamps around
each phase so the ~10 s driver-measured total can be attributed:
setup (t0 scan, index build+commit, fixture write) vs the 4 gate
triggers (batch minhash, candidate join, verify recompute, admitted
write, band commit). Timing-only; not part of the bench.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import tempfile

from pyspark.sql import functions as F

from apache_iceberg_spark.session import get_spark, release_plan_caches

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

spark = get_spark("profile_st28")

# warm-up
from apache_iceberg_spark.registry import all_queries
all_queries()["st28_stream_neardup_gate"](spark, "/root/testdata/sf0.001").count()
release_plan_caches(spark)

from apache_iceberg_spark.catalog.snapshots import (
    commit_append_ref,
    commit_snapshot,
    read_ref,
)
from apache_iceberg_spark.operators.dedup import (
    DD15_BATCH_DEN,
    DD15_BATCH_NUM,
    JACCARD_THRESHOLD,
    _minhash_bands,
)
from apache_iceberg_spark.streaming.events import _write_ordered_range_files
from apache_iceberg_spark.tables import load_table_parallel

T0 = time.time()
marks = []


def mark(label):
    marks.append((label, time.time() - T0))
    print(f"[{time.time()-T0:7.3f}] {label}", flush=True)


from apache_iceberg_spark.tables import load_table
d = load_table(spark, SF, "documents")
d_par = load_table_parallel(spark, SF, "documents")
t0 = int(
    d.agg(F.expr(f"(MAX(doc_id) * {DD15_BATCH_NUM}) DIV {DD15_BATCH_DEN}")).first()[0]
)
mark("t0 agg")
base = tempfile.mkdtemp(prefix="st28p_")
bands_tbl = os.path.join(base, "bands")
hashed_idx, bands_idx = _minhash_bands(d_par.filter(F.col("doc_id") < t0))
commit_snapshot(bands_idx.repartition(1), bands_tbl)
hashed_idx.unpersist()
mark("index build+commit")

batch_docs = d.filter(F.col("doc_id") >= t0).select("doc_id", "text")
src = os.path.join(base, "src")
_write_ordered_range_files(batch_docs, "doc_id", 4, src)
src_dirhack = src
mark("fixture write")
outdir = os.path.join(base, "admitted")
from apache_iceberg_spark.tables import FOLD_CHUNK_BYTES
batch_bytes = max(os.path.getsize(os.path.join(src_dirhack, f)) for f in os.listdir(src_dirhack))
batch_parts = max(1, min(spark.sparkContext.defaultParallelism, -(-batch_bytes // FOLD_CHUNK_BYTES)))
print("batch_parts", batch_parts)


def gate(batch_df, batch_id):
    tb = time.time()
    spread = batch_df.repartition(batch_parts) if batch_parts > 1 else batch_df
    hashed_b, bands_b_raw = _minhash_bands(spread, persist=False)
    hashed_b = hashed_b.persist()
    try:
        bands_b = bands_b_raw.select(
            F.col("doc_id").alias("doc_id_b"), "band_id", "band_key"
        )
        seen_bands = (
            read_ref(spark, bands_tbl, "main")
            .unionByName(bands_b_raw)
            .select(F.col("doc_id").alias("doc_id_a"), "band_id", "band_key")
        )
        print(f"  b{batch_id} read_ref plan: {time.time()-tb:.3f}", flush=True)
        cand = (
            bands_b.join(seen_bands, ["band_id", "band_key"])
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .select("doc_id_a", "doc_id_b")
            .distinct()
            .persist()
        )
        n_cand = cand.count()
        print(f"  b{batch_id} cand materialize ({n_cand}): {time.time()-tb:.3f}", flush=True)
        seen_hashed = _minhash_bands(
            d.join(F.broadcast(cand.select(F.col("doc_id_a").alias("doc_id"))), "doc_id", "left_semi"),
            persist=False,
        )[0]
        rejected = (
            cand.join(
                seen_hashed.select(F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("hs_a")),
                "doc_id_a",
            )
            .join(
                hashed_b.select(F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("hs_b")),
                "doc_id_b",
            )
            .filter(
                F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
                / F.size(F.array_union("hs_a", "hs_b"))
                >= JACCARD_THRESHOLD
            )
            .select("doc_id_b")
            .distinct()
        )
        admitted = batch_df.join(
            rejected, batch_df["doc_id"] == rejected["doc_id_b"], "left_anti"
        ).select("doc_id", F.length("text").cast("long").alias("n_chars"))
        admitted.write.mode("append").parquet(outdir)
        print(f"  b{batch_id} verify+write: {time.time()-tb:.3f}", flush=True)
        commit_append_ref(
            bands_b_raw, bands_tbl, branch="main",
            idempotency_key=f"st28-bands-{batch_id}", keys_max=64,
        )
        print(f"  b{batch_id} band commit: {time.time()-tb:.3f}", flush=True)
        cand.unpersist()
    finally:
        hashed_b.unpersist()
    mark(f"batch {batch_id} total {time.time()-tb:.3f}")


query = (
    spark.readStream.schema(batch_docs.schema)
    .option("maxFilesPerTrigger", "1")
    .parquet(src)
    .writeStream.foreachBatch(gate)
    .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
    .trigger(availableNow=True)
    .start()
)
query.awaitTermination()
mark("stream done")
n = spark.read.parquet(outdir).count()
mark(f"final read ({n} rows)")
