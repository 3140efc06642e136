"""Unit tests for the round-4 operators, beyond the oracle gate:
structural invariants the value-hash compare cannot state directly."""

from __future__ import annotations

import pyspark.sql.functions as F

from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def test_pp2b_spans_reassemble_documents(spark):
    """Every document's spans must tile its token interval exactly: the
    slice lengths sum to n_toks, the first slice starts at 0, and
    consecutive slices are contiguous (no gap, no overlap) even when the
    document crosses sequence boundaries."""
    spans = REGISTRY["pp2b_packed_doc_spans"].spark(spark, SF_DIR)
    pp2 = REGISTRY["pp2_sequence_packing"].spark(spark, SF_DIR).select(
        "doc_id", "n_toks"
    )
    agg = spans.groupBy("doc_id").agg(
        F.sum("slice_len").alias("covered"),
        F.min("slice_start").alias("first_start"),
        F.count("*").alias("n_spans"),
    )
    bad = agg.join(pp2, "doc_id").filter(
        (F.col("covered") != F.col("n_toks")) | (F.col("first_start") != 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # contiguity: next slice_start == previous slice_start + slice_len
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("slice_start")
    gaps = spans.withColumn(
        "expected_next", F.col("slice_start") + F.col("slice_len")
    ).withColumn("next_start", F.lead("slice_start").over(w)).filter(
        F.col("next_start").isNotNull()
        & (F.col("next_start") != F.col("expected_next"))
    )
    assert gaps.count() == 0, gaps.limit(5).collect()
    # at least one document crosses a sequence boundary at this SF
    assert spans.count() > pp2.count()


def test_pp2b_continuation_spans_start_at_sequence_origin(spark):
    """A document's continuation into the next sequence lands at that
    sequence's origin: every span after a doc's first has seq_offset 0."""
    spans = REGISTRY["pp2b_packed_doc_spans"].spark(spark, SF_DIR)
    bad = spans.filter(
        (F.col("slice_start") > 0) & (F.col("seq_offset") != 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_bloom_prefilter_no_false_negatives(spark):
    """Rows of `big` whose key appears in `small` must ALL survive the
    bloom pre-pass (false positives are allowed, false negatives are
    not), and for disjoint keys the filter must actually prune."""
    from apache_iceberg_spark.operators.pipeline import bloom_prefilter

    small = spark.range(0, 100).select(
        F.concat(F.lit("k"), F.col("id")).alias("g")
    )
    big = spark.range(0, 2000).select(
        F.concat(F.lit("k"), F.col("id")).alias("g"), F.col("id")
    )
    kept = bloom_prefilter(big, small, "g")
    kept_ids = {r.id for r in kept.collect()}
    assert set(range(100)) <= kept_ids  # no false negatives
    # 2^18 bits / 3 probes over 100 keys: non-member pass-through is
    # ~(300/262144)^3 per key — pruning must be near-total here
    assert len(kept_ids) < 200, len(kept_ids)


def test_tx11_no_pii_survives_redaction(spark):
    """After redaction no email/IP/phone pattern may remain, every class
    fires at least once per document, and placeholders appear."""
    from apache_iceberg_spark.operators.text import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    out = REGISTRY["tx11_pii_redaction"].spark(spark, SF_DIR)
    leftovers = out.filter(
        (F.col("redacted").rlike(PII_EMAIL_RE))
        | (F.col("redacted").rlike(PII_IP_RE))
        | (F.col("redacted").rlike(PII_PHONE_RE))
    )
    assert leftovers.count() == 0, leftovers.limit(3).collect()
    unfired = out.filter(
        (F.col("n_emails") < 1) | (F.col("n_ips") < 1) | (F.col("n_phones") < 1)
    )
    assert unfired.count() == 0
    sample = out.limit(1).collect()[0].redacted
    for ph in ("<EMAIL>", "<IP>", "<PHONE>"):
        assert ph in sample, sample


def test_pp3_drops_only_contaminated_train_docs(spark):
    """pp3 is pp1 minus contaminated TRAIN documents: the dropped set
    never contains val/test rows, and survivors match pp1 row-for-row."""
    pp1 = REGISTRY["pp1_corpus_curation"].spark(spark, SF_DIR)
    pp3 = REGISTRY["pp3_curation_decontaminated"].spark(spark, SF_DIR)
    dropped = pp1.join(pp3.select("doc_id"), "doc_id", "left_anti")
    assert dropped.filter(F.col("split") != "train").count() == 0
    # survivors are identical rows (columns match by construction)
    assert pp3.exceptAll(pp1).count() == 0


def test_rollback_is_metadata_only_and_preserves_forensics(spark, tmp_path):
    """rollback_to must not copy or delete data: the bad snapshot stays
    addressable by version, the rollback entry shares v1's file paths
    verbatim, and the current read equals v1."""
    import os

    from apache_iceberg_spark.catalog.snapshots import (
        commit_snapshot,
        list_snapshots,
        read_snapshot_dirs,
        rollback_to,
    )
    from apache_iceberg_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").limit(100)
    table = os.path.join(str(tmp_path), "orders")
    v1 = commit_snapshot(o, table)
    bad = o.withColumn("o_orderstatus", F.lit("CORRUPT"))
    v2 = commit_snapshot(bad, table)
    v3 = rollback_to(table, v1)
    assert v3 == v2 + 1
    log = {e["version"]: e for e in list_snapshots(table)}
    # metadata-only: the rollback entry references v1's directory, and no
    # new data directory exists for v3
    assert log[v3]["set"] == log[v1]["set"]
    import glob as _glob
    assert _glob.glob(os.path.join(table, f"v{v3}-*")) == []
    # forensics: the bad snapshot is still readable by version
    assert (
        read_snapshot_dirs(spark, table, version=v2)
        .filter(F.col("o_orderstatus") == "CORRUPT")
        .count()
        == 100
    )
    # current == v1
    cur = read_snapshot_dirs(spark, table)
    assert cur.filter(F.col("o_orderstatus") == "CORRUPT").count() == 0
    assert cur.count() == 100


def test_orphan_cleanup_removes_only_unreferenced_dirs(spark, tmp_path):
    """remove_orphan_dirs deletes exactly the torn-commit debris: the
    orphan dir goes, every snapshot-referenced dir stays readable."""
    import os

    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        read_snapshot_dirs,
        remove_orphan_dirs,
    )
    from apache_iceberg_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").limit(100)
    table = os.path.join(str(tmp_path), "orders")
    commit_snapshot(o, table)          # v1/
    commit_append(o.limit(10), table)  # d2/ (shares v1/)
    orphan_dir = os.path.join(table, "v9")
    o.limit(7).write.parquet(orphan_dir)  # torn commit, no log entry
    removed = remove_orphan_dirs(table)
    assert removed == [os.path.normpath(orphan_dir)]
    assert not os.path.exists(orphan_dir)
    import glob as _glob
    assert _glob.glob(os.path.join(table, "v1-*"))
    assert _glob.glob(os.path.join(table, "d2-*"))
    assert read_snapshot_dirs(spark, table).count() == 110
