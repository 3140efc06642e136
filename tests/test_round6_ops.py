"""Round-6 operator tests.

1. g3b (pinned-round PageRank) reproduces g3's CONVERGED output on the
   fixture — the bridge that lets g3b's hash-green driver row stand in
   for g3's rows-only check (VERDICT r5 ask #2).
2. mm6's Manku-factored pair generation: correct on an identical-heavy
   adversarial corpus AND the quantity the in-bucket lambda is quadratic
   in is the DISTINCT-hash width, not the member count (ask #4).
3. ann13's clustered-corpus recall curve hits production-index targets
   (ask #3): recall@10 >= 0.8 for the quantized+rerank variant at
   documented probe cost.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import REPO_ROOT, SF_DIR

_ensure_loaded()


def test_g3b_equals_converged_g3(spark):
    """g3 stops when no rank moves beyond tolerance; g3b runs exactly
    G3B_ROUNDS steps with no early exit. On the fixture the convergence
    profile IS G3B_ROUNDS (measured at sf0.001 and sf0.01), so the two
    must agree row-for-row — making g3b's oracle-hashed driver row a
    check of g3's loop output, not just of a lookalike."""
    g3 = sorted(
        (r["l_suppkey"], r["rank_micro"], r["n_links"])
        for r in REGISTRY["g3_pagerank_converged"].spark(spark, SF_DIR).collect()
    )
    g3b = sorted(
        (r["l_suppkey"], r["rank_micro"], r["n_links"])
        for r in REGISTRY["g3b_pagerank_rounds"].spark(spark, SF_DIR).collect()
    )
    assert g3 == g3b
    assert len(g3) > 0


def _brute_force_hamming_pairs(spark, d, max_hamming):
    from apache_iceberg_spark.operators.pipeline import (
        _DHASH_EXPR,
        _DHASH_V_EXPR,
        DHASH_BITS,
    )

    h = (
        d.filter(F.length("text") >= DHASH_BITS + 1)
        .select("doc_id", F.expr(_DHASH_V_EXPR).alias("__v"))
        .select("doc_id", F.expr(_DHASH_EXPR).alias("dhash"))
    )
    a = h.select(F.col("doc_id").alias("doc_id_a"), F.col("dhash").alias("ha"))
    b = h.select(F.col("doc_id").alias("doc_id_b"), F.col("dhash").alias("hb"))
    return (
        a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(F.expr(f"bit_count(ha ^ hb) <= {max_hamming}"))
        .select("doc_id_a", "doc_id_b")
    )


def test_mm6_factored_pairs_match_bruteforce_on_identical_heavy_corpus(spark):
    """Adversarial corpus for the pre-factoring shape: 300 byte-identical
    payloads (one dHash, every band colliding) + 50 distinct ones. The
    factored mm6 must still emit exactly the brute-force pair set —
    including all C(300,2) intra-hash pairs."""
    from apache_iceberg_spark.operators.pipeline import (
        MM6_HAMMING_MAX,
        mm6_hamming_pairs,
    )

    base = "The quick brown fox jumps over the lazy dog " * 3
    rows = [(i, base) for i in range(300)]
    rows += [(1000 + i, f"distinct document number {i} " + base[i : i + 80])
             for i in range(50)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id_a"], r["doc_id_b"])
        for r in mm6_hamming_pairs(d).collect()
    )
    want = sorted(
        (r["doc_id_a"], r["doc_id_b"])
        for r in _brute_force_hamming_pairs(spark, d, MM6_HAMMING_MAX).collect()
    )
    assert got == want
    # All intra-hash pairs present: the 300 identical docs alone
    # contribute C(300,2).
    assert len([p for p in got if p[0] < 300 and p[1] < 300]) >= 300 * 299 // 2


def test_mm6_bucket_width_is_distinct_hashes_not_members(spark):
    """The property the factoring buys (dd16's Manku-table argument): the
    in-bucket pair lambda is quadratic in the BUCKET WIDTH, and after
    factoring that width is bounded by the number of DISTINCT dHashes —
    on the corpus above, <= 51 groups ever land in one bucket while the
    member count is 350. The pre-factoring shape put all 300 identical
    members in every one of their band buckets (width 300+, O(90000)
    lambda steps per bucket for O(44850) output pairs ALL of which are
    distance-0 and never needed banding at all)."""
    from apache_iceberg_spark.operators.pipeline import (
        _DHASH_EXPR,
        _DHASH_V_EXPR,
        DHASH_BITS,
        MM6_BAND_BITS,
        MM6_BANDS,
    )

    base = "The quick brown fox jumps over the lazy dog " * 3
    rows = [(i, base) for i in range(300)]
    rows += [(1000 + i, f"distinct document number {i} " + base[i : i + 80])
             for i in range(50)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    h = (
        d.filter(F.length("text") >= DHASH_BITS + 1)
        .select("doc_id", F.expr(_DHASH_V_EXPR).alias("__v"))
        .select("doc_id", F.expr(_DHASH_EXPR).alias("dhash"))
    )
    n_distinct = h.select("dhash").distinct().count()
    assert n_distinct <= 51  # 300 identical docs collapse to one hash
    band_structs = ", ".join(
        f"struct({b} AS band_id, "
        f"shiftright(dhash, {MM6_BAND_BITS * b}) & {2 ** MM6_BAND_BITS - 1} "
        f"AS band_key)"
        for b in range(MM6_BANDS)
    )
    widths = (
        h.select("dhash").distinct()
        .select("dhash", F.explode(F.expr(f"array({band_structs})")).alias("b"))
        .groupBy("b.band_id", "b.band_key")
        .agg(F.count("*").alias("w"))
        .agg(F.max("w").alias("mw"))
        .collect()[0]["mw"]
    )
    # The widest bucket the factored lambda ever sees is bounded by the
    # distinct-hash count, NOT the 350 members.
    assert widths <= n_distinct


def test_ann13_recall_targets_on_clustered_corpus(spark):
    """VERDICT r5 ask #3 'done' criterion: on clusterable data the index
    family must be demonstrably good — rerank recall@10 >= 0.8 at a
    documented sub-linear probe cost (it is ~1.0 at ~12% scanned here),
    and the curve must be internally consistent: exact >= rerank >=
    quantized-only at equal n_probe, cost monotone in n_probe."""
    rows = {
        (r["variant"], r["n_probe"]): r
        for r in REGISTRY["ann13_clustered_recall_curve"]
        .spark(spark, SF_DIR)
        .collect()
    }
    rerank = rows[("ivf_sq_rerank", 2)]
    assert rerank["recall_at_10"] >= 0.8
    assert rerank["scanned_frac"] < 0.5  # sub-linear scan, not brute force
    assert (
        rows[("ivf_exact", 2)]["recall_at_10"]
        >= rerank["recall_at_10"]
        >= rows[("ivf_sq", 2)]["recall_at_10"]
    )
    assert (
        rows[("ivf_exact", 1)]["avg_cand_rows"]
        < rows[("ivf_exact", 2)]["avg_cand_rows"]
        < rows[("ivf_exact", 4)]["avg_cand_rows"]
    )
    # High recall at n_probe=1 is the planted-structure signature: the
    # trained quantizer recovered the mixture components.
    assert rows[("ivf_exact", 1)]["recall_at_10"] >= 0.8


def test_dd12_short_docs_agree_across_engines(spark):
    """ADVICE r5: docs with fewer than DD12_SHINGLE_WORDS tokens made the
    gram expressions diverge (Spark emitted a partial gram, DuckDB a
    NULL-dropped empty set) — a latent oracle mismatch the fixture never
    exercised. Both engines must now treat short docs as empty gram sets:
    identical pair output on a corpus that contains 1- and 2-token docs."""
    import duckdb
    import pandas as pd

    rows = [
        (1, "en", "web", "alpha"),                     # 1 token
        (2, "en", "web", "alpha beta"),                # 2 tokens
        (3, "en", "web", "alpha beta gamma"),          # exactly 3
        (4, "en", "web", "alpha beta gamma delta"),    # contains doc 3
        (5, "en", "web", "one two three four five six seven"),
        (6, "en", "web", "zzz one two three four five six seven yyy"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    d = spark.createDataFrame(pdf)

    from apache_iceberg_spark.operators.dedup import containment_pairs

    got = sorted(
        (r["drop_id"], r["keep_id"], r["containment"])
        for r in containment_pairs(d).collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = REGISTRY["dd12_containment_dedup"].oracle
    want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
    con.close()
    assert got == want
    # Docs 3/4 and 5/6 are genuine containment pairs; the short docs are
    # silent (empty gram sets), not partial-gram artifacts.
    dropped = {p[0] for p in got}
    assert 3 in dropped and 5 in dropped
    assert not dropped & {1, 2}


def test_tokenizer_exprs_stay_identical_across_modules():
    """text.py hosts its own copy of the whitespace-tokenizer expressions
    (importing dedup back would be a cycle); they must stay byte-identical
    to dedup's canonical ones or the oracles drift."""
    import apache_iceberg_spark.operators.dedup as dd
    import apache_iceberg_spark.operators.text as tx

    assert dd._SPARK_TOKENS == tx._SPARK_TOKENS
    assert dd._DUCK_TOKENS == tx._DUCK_TOKENS


def test_st13_equals_ann14(spark):
    """st13 is ann14-at-ingest: the bounded availableNow streaming run
    over the batch vectors must reproduce the declarative batch answer
    row-for-row (st12-vs-dd15's gate, applied to the vector index)."""
    batch = sorted(
        tuple(r)
        for r in REGISTRY["ann14_incremental_index_update"]
        .spark(spark, SF_DIR)
        .collect()
    )
    stream = sorted(
        tuple(r)
        for r in REGISTRY["st13_stream_index_update"].spark(spark, SF_DIR).collect()
    )
    assert batch == stream
    assert len(batch) > 0


def test_vector_pipeline_example_runs(spark):
    """The examples/ demo of the vector-index lifecycle must keep working
    (quickstart's gate, applied to the ANN family)."""
    import examples.vector_pipeline as vp

    out = vp.main.__wrapped__ if hasattr(vp.main, "__wrapped__") else vp.main
    # reuse the session fixture's JVM by running against the tiny fixture
    res = out("/root/testdata/sf0.001")
    assert res["recall_rerank"] >= 0.8
    assert res["cells"] == 8
    assert res["semantic_dup_pairs"] > 0


def test_dd2_short_docs_agree_across_engines(spark):
    """The dd2 shingle family had dd12's latent short-doc divergence
    (partial Spark shingles vs NULL-dropped DuckDB ones — ADVICE r5).
    After the size guard, docs under SHINGLE_WORDS tokens have no
    signature on EITHER engine: identical verified pairs on a corpus
    full of 1-4-token docs (plus genuine near-dups to keep the positive
    path exercised)."""
    import duckdb
    import pandas as pd

    from apache_iceberg_spark.operators.dedup import (
        minhash_lsh_ctes,
        minhash_lsh_pairs,
        JACCARD_THRESHOLD,
    )

    long_a = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "one"),
        (2, "one two"),
        (3, "one two three"),
        (4, "one two three four"),               # 4 tokens: still short
        (5, "one two three four five"),          # exactly SHINGLE_WORDS
        (6, long_a),
        (7, long_a + " extra"),                  # near-dup of 6
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    d = spark.createDataFrame(pdf)
    got = sorted(
        (r["doc_id_a"], r["doc_id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(d).collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        (a, b, round(j, 9))
        for a, b, j in con.execute(
            f"WITH {minhash_lsh_ctes('documents')} "
            f"SELECT doc_id_a, doc_id_b, jaccard FROM verified "
            f"WHERE jaccard >= {JACCARD_THRESHOLD}"
        ).fetchall()
    )
    con.close()
    assert got == want
    # the genuine near-dup pair survives; no short doc appears anywhere
    assert (6, 7) in {(a, b) for a, b, _ in got}
    assert not {a for a, _, _ in got} & {1, 2, 3, 4}
    assert not {b for _, b, _ in got} & {1, 2, 3, 4}


def test_rotation_puts_fresh_and_recheck_inside_driver_sample():
    """__spark_entry__._coverage_order must place every never-driver-
    checked query and every impl-changed (recheck) query inside the
    driver's ~50-row sample prefix — the discipline that closed the
    round-4 coverage gap (VERDICT r5 ask #5)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", REPO_ROOT / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ordered = list(mod.queries())
    green, red = mod._prior_rounds()
    # Derive expectations from the ordering logic itself (ADVICE r6):
    # hard-coding round-N names self-invalidates the moment the driver's
    # CORRECTNESS_rNN.json lands and those names turn green.
    fresh = [n for n in ordered if n not in green]
    # every never-green name must sit in the first max(45, |fresh|)
    # positions — when a round registers more than 45 new operators the
    # sample prefix IS the fresh block (they still lead everything)
    bound = max(45, len(fresh))
    late = [n for n in fresh if ordered.index(n) >= bound]
    assert not late, f"fresh queries outside the sample prefix: {late}"
    # previously-red rows lead everything (their fixes must be re-checked)
    for n in red:
        assert ordered.index(n) < len(fresh), (n, ordered.index(n))
    # impl-changed (recheck) greens form the next contiguous block right
    # behind the fresh rows — nothing already-proven interleaves. (When
    # fresh+recheck outgrow the driver's ~50-row sample, the tail
    # rechecks spill to the next round's rotation by design: they are at
    # least green under the OLD code, fresh rows were never checked.)
    rc = [n for n in mod.RECHECK if n in ordered]
    for n in rc:
        assert ordered.index(n) < len(fresh) + len(rc), (
            n,
            ordered.index(n),
        )
    # the green tail is ordered oldest-proof-first so stale greens are
    # re-verified before recently-proven ones (VERDICT r6 ask #2)
    latest = mod._green_rounds()
    tail = [n for n in ordered if n in green and n not in mod.RECHECK]
    tail_rounds = [latest.get(n, 0) for n in tail]
    assert tail_rounds == sorted(tail_rounds), "green tail not oldest-first"


def _hex_syms(w: str) -> list:
    """Byte-level symbol sequence of a word: one uppercase 2-hex-char
    symbol per UTF-8 byte (tx15's round-8 alphabet)."""
    h = w.encode("utf-8").hex().upper()
    return [h[i : i + 2] for i in range(0, len(h), 2)]


def _ref_bpe(words: dict, k: int):
    """Pure-Python reference BPE trainer: byte-level symbols,
    freq-weighted pair counts, argmax with (count desc, a asc, b asc)
    tiebreak, greedy left-to-right non-overlapping rewrite — the
    semantics tx15 claims. Deliberately the naive full-recount
    algorithm, independent of both the incremental driver loop and the
    distributed fold."""
    vocab = [(_hex_syms(w), f) for w, f in sorted(words.items())]
    out = []
    for r in range(1, k + 1):
        cnt: dict = {}
        for syms, f in vocab:
            for i in range(len(syms) - 1):
                cnt[(syms[i], syms[i + 1])] = cnt.get((syms[i], syms[i + 1]), 0) + f
        if not cnt:
            break
        (a, b), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((r, a, b, a + b, c))
        nv = []
        for syms, f in vocab:
            ns: list = []
            for s in syms:
                if ns and ns[-1] == a and s == b:
                    ns[-1] = a + b
                else:
                    ns.append(s)
            nv.append((ns, f))
        vocab = nv
    return out


def test_tx15_oracle_matches_reference_bpe_on_random_corpora():
    """Wide randomized check of the unrolled-SQL BPE against the pure
    reference: the DuckDB oracle (the engines hash-match on it via the
    differential harness) must reproduce the reference merge table on
    random corpora — including all-1-char-ASCII-word corpora where merge
    rounds run dry early, and NON-ASCII words whose multi-byte UTF-8
    sequences exercise the byte-level alphabet (é is 2 bytes, € is 3:
    merges must re-join them byte by byte)."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_iceberg_spark.operators.text import TX15_MERGES, _tx15_oracle

    word = st.text(alphabet="abcé€", min_size=1, max_size=5)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.lists(word, min_size=1, max_size=8), min_size=1, max_size=6))
    def check(docs):
        pdf = pd.DataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            columns=["doc_id", "text"],
        )
        words: dict = {}
        for ws in docs:
            for w in ws:
                words[w] = words.get(w, 0) + 1
        want = _ref_bpe(words, TX15_MERGES)
        con = duckdb.connect()
        con.register("documents", pdf)
        got = sorted(con.execute(_tx15_oracle()).fetchall())
        con.close()
        assert got == sorted(want), (docs, got, want)

    check()


def test_tx15_driver_loop_matches_reference_bpe():
    """The incremental pair-count driver loop (the TX15_DRIVER_VOCAB
    branch) must equal the naive full-recount reference on corpora with
    heavy overlap, dry rounds, and multi-byte words — three independent
    algorithms (incremental, full-recount Python, full-recount SQL) must
    agree on one merge table."""
    from apache_iceberg_spark.operators.text import (
        TX15_MERGES,
        _tx15_driver_merges,
    )

    corpora = [
        {"ab": 7, "abc": 3, "b": 2, "c": 1},
        {"aaaa": 5, "aa": 2},  # self-pair greedy non-overlap
        {"x": 1},  # no pairs at all → zero merges
        {"café": 4, "cafe": 2, "€uro": 3},  # multi-byte UTF-8
        {"σπάρκ": 2, "spark": 5},
    ]
    for words in corpora:
        want = _ref_bpe(words, TX15_MERGES)
        got = _tx15_driver_merges(
            [(_hex_syms(w), f) for w, f in sorted(words.items())],
            TX15_MERGES,
        )
        assert got == want, (words, got[:5], want[:5])


def test_tx15_spark_matches_reference_bpe(spark, tmp_path):
    """One Spark-side case of the same property (the fold + broadcast
    top-1 machinery), on a corpus with dry rounds and heavy repeats."""
    import pandas as pd

    docs = [
        ["ab", "ab", "abc"],
        ["b", "c", "ab"],
        ["x"],  # 1-char word: contributes no pairs
    ]
    pdf = pd.DataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        columns=["doc_id", "text"],
    )
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "documents.parquet"))
    from apache_iceberg_spark.operators.text import TX15_MERGES

    words: dict = {}
    for ws in docs:
        for w in ws:
            words[w] = words.get(w, 0) + 1
    want = sorted(_ref_bpe(words, TX15_MERGES))
    got = sorted(
        tuple(r)
        for r in REGISTRY["tx15_bpe_merges"].spark(spark, str(tmp_path)).collect()
    )
    assert got == want
