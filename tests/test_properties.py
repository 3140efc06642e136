"""Property-based tests (SURVEY.md §5: hypothesis over the pure kernels,
few-example property checks over the Spark utilities).

Pure-Python kernels get wide random coverage; Spark-backed properties run
a handful of examples each (session startup dominates, and the properties
are partition-count/row-content invariants, not numeric fuzz).
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# pure kernels: wide random coverage
# ---------------------------------------------------------------------------


@given(st.integers(min_value=0, max_value=10**13), st.integers(1, 4096))
def test_iteration_partitions_bounds(n_nodes, parallelism):
    from apache_iceberg_spark.operators.dedup import (
        _CC_NODES_PER_PARTITION,
        iteration_partitions,
    )

    p = iteration_partitions(n_nodes, parallelism)
    assert 1 <= p <= parallelism
    # monotone in graph size
    assert p <= iteration_partitions(n_nodes * 2 + 1, parallelism)
    # never more than one partition per chunk of nodes
    if n_nodes > 0:
        assert p <= -(-n_nodes // _CC_NODES_PER_PARTITION) or p == 1


@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=60,
    )
)
def test_resolve_table_name_invariants(filename):
    from apache_iceberg_spark.ingest.naming import resolve_table_name

    name = resolve_table_name(filename + ".csv", pluralize=False)
    # output charset is the sqlite/iceberg-safe identifier set
    assert all(c.islower() or c.isdigit() or c == "_" for c in name)
    assert not name.startswith("_") and not name.endswith("_")
    assert "__" not in name
    # idempotent: resolving a resolved name changes nothing (an empty
    # resolution would re-resolve as a dotfile — splitext semantics —
    # so the property only applies to non-empty names)
    if name:
        assert resolve_table_name(name + ".csv", pluralize=False) == name


@given(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1))
def test_zorder_code_python_model(x, y):
    """The Morton interleave must equal the bit-twiddling model: bit k of
    x at position 2k, bit k of y at 2k+1 (checked via the same polynomial
    in Python; the Spark expression is tested in the m8 oracle gate)."""

    def morton(a: int, b: int, bits: int = 16) -> int:
        out = 0
        for k in range(bits):
            out |= ((a >> k) & 1) << (2 * k)
            out |= ((b >> k) & 1) << (2 * k + 1)
        return out

    z = morton(x, y)
    # de-interleave restores both coordinates — the code is injective
    xx = sum(((z >> (2 * k)) & 1) << k for k in range(16))
    yy = sum(((z >> (2 * k + 1)) & 1) << k for k in range(16))
    assert (xx, yy) == (x, y)


# ---------------------------------------------------------------------------
# Spark-backed properties: few examples, structural invariants
# ---------------------------------------------------------------------------

_spark_examples = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 100)),
        min_size=1,
        max_size=30,
    ),
    n_salts=st.integers(2, 8),
)
@_spark_examples
def test_salted_join_equals_plain_join(spark, rows, n_salts):
    from apache_iceberg_spark.operators.scale import salted_join

    left = spark.createDataFrame(rows, "k int, v int")
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(0, 10, 2)], "k int, w int"
    )
    plain = sorted(
        tuple(r) for r in left.join(right, "k").select("k", "v", "w").collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_join(left, right, "k", n_salts=n_salts)
        .select("k", "v", "w")
        .collect()
    )
    assert salted == plain


@given(
    updates_keys=st.lists(st.integers(1, 20), min_size=0, max_size=10),
)
@_spark_examples
def test_upsert_idempotent_and_unique(spark, updates_keys):
    from apache_iceberg_spark.operators.scale import upsert

    current = spark.createDataFrame(
        [(k, "old") for k in range(1, 11)], "k int, v string"
    )
    updates = spark.createDataFrame(
        [(k, "new") for k in set(updates_keys)], "k int, v string"
    )
    once = upsert(current, updates, "k")
    twice = upsert(once, updates, "k")
    got_once = sorted(tuple(r) for r in once.collect())
    got_twice = sorted(tuple(r) for r in twice.collect())
    assert got_once == got_twice  # applying the same batch again is a no-op
    keys = [r.k for r in once.select("k").collect()]
    assert len(keys) == len(set(keys))  # key uniqueness preserved
    for k in set(updates_keys):
        assert (k, "new") in got_once


@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=900,
    )
)
@example(text="")
@_spark_examples
def test_chunking_covers_text_exactly(spark, tmp_path_factory, text):
    """tx9's chunks must tile the document: starts at 1, 1+stride, …;
    each chunk is the exact substring; stitching the stride-prefixes plus
    the final chunk reconstructs the document byte-for-byte. An empty
    document yields zero chunks (not a sequence-bounds error), matching
    the oracle's generate_series(1, 0)."""
    from apache_iceberg_spark.operators.pipeline import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )
    from apache_iceberg_spark.registry import REGISTRY

    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    d = str(tmp_path_factory.mktemp("chunk_prop"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1], pa.int64()),
                "text": pa.array([text], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["t"], pa.string()),
                "n_chars": pa.array([len(text)], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    rows = sorted(
        (r.chunk_start, r.chunk_text)
        for r in REGISTRY["tx9_chunking"].spark(spark, d).collect()
    )
    starts = [s for s, _ in rows]
    assert starts == list(range(1, len(text) + 1, CHUNK_STRIDE))
    if not text:
        assert rows == []
        return
    for s, chunk in rows:
        assert chunk == text[s - 1 : s - 1 + CHUNK_SIZE]
    stitched = "".join(c[:CHUNK_STRIDE] for _, c in rows[:-1]) + rows[-1][1]
    assert stitched == text


# ---------------------------------------------------------------------------
# CSV ingest inference boundary (ingest/loader.py read_csv, SURVEY §1.2's
# 8-type surface): lock the pinned Arrow-vs-Spark divergence traps —
# integer width boundaries, ISO timestamp vs date-only columns, and
# empty-string-vs-NULL — so a Spark upgrade or an option drift breaks a
# test, not the oracle comparison.
# ---------------------------------------------------------------------------


def _csv_roundtrip(spark, tmp_path_factory, header: str, lines: list[str]):
    import os

    from apache_iceberg_spark.ingest.loader import read_csv

    d = str(tmp_path_factory.mktemp("inf_prop"))
    p = os.path.join(d, "t.csv")
    with open(p, "w") as f:
        f.write(header + "\n")
        for ln in lines:
            f.write(ln + "\n")
    return read_csv(spark, p)


@given(
    ints=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=20,
    )
)
@example(ints=[2**31 - 1])          # stays int
@example(ints=[2**31])              # first value needing bigint
@example(ints=[-(2**31) - 1])       # negative boundary
@example(ints=[2**63 - 1, 0])      # bigint max
@_spark_examples
def test_csv_integer_inference_boundary(spark, tmp_path_factory, ints):
    """Pinned rule: a CSV integer column infers `int` iff every value
    fits int32, else `bigint`; values round-trip exactly at both widths
    (no silent float widening on the int64 boundary — the classic
    Arrow-vs-Spark divergence trap)."""
    df = _csv_roundtrip(spark, tmp_path_factory, "v", [str(i) for i in ints])
    expect = "int" if all(-(2**31) <= i < 2**31 for i in ints) else "bigint"
    assert dict(df.dtypes)["v"] == expect
    assert sorted(r.v for r in df.collect()) == sorted(ints)


@given(st.integers(min_value=2**63, max_value=2**80))
@_spark_examples
def test_csv_beyond_int64_falls_back_to_string(spark, tmp_path_factory, big):
    """Values past int64 infer decimal(n,0) — outside the 8-type surface —
    so restrict_to_core_types lands them as exact string, never a lossy
    double."""
    df = _csv_roundtrip(spark, tmp_path_factory, "v", [str(big), "1"])
    assert dict(df.dtypes)["v"] == "string"
    assert {r.v for r in df.collect()} == {str(big), "1"}


@given(
    stamps=st.lists(
        st.tuples(
            st.datetimes(
                min_value=__import__("datetime").datetime(1905, 1, 1),
                max_value=__import__("datetime").datetime(2099, 12, 31),
            ).map(lambda t: t.replace(microsecond=0)),
            st.booleans(),  # render as date-only?
        ),
        min_size=1,
        max_size=10,
    )
)
@_spark_examples
def test_csv_timestamp_vs_date_inference(spark, tmp_path_factory, stamps):
    """Pinned rule: all-ISO-date columns infer `date`; one ISO timestamp
    makes the whole column `timestamp` with date-only rows at midnight.
    Values round-trip to the second either way."""
    import datetime as dt

    cells = [
        t.date().isoformat() if as_date else t.isoformat(sep="T")
        for t, as_date in stamps
    ]
    df = _csv_roundtrip(spark, tmp_path_factory, "v", cells)
    all_dates = all(as_date for _, as_date in stamps)
    got = sorted(r.v for r in df.collect())
    if all_dates:
        assert dict(df.dtypes)["v"] == "date"
        assert got == sorted(t.date() for t, _ in stamps)
    else:
        assert dict(df.dtypes)["v"].startswith("timestamp")
        expect = sorted(
            dt.datetime.combine(t.date(), dt.time()) if as_date else t
            for t, as_date in stamps
        )
        assert got == expect


@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.just(""),
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                min_size=0,
                max_size=40,
            ).map(lambda s: "v" + s),  # prefix keeps the column string-typed
        ),
        min_size=1,
        max_size=20,
    )
)
@example(vals=[None, "", "v"])
@_spark_examples
def test_csv_empty_string_reads_as_null(spark, tmp_path_factory, vals):
    """Pinned rule (the s12/s14 trap): with read_csv's options both a
    bare empty field and a quoted "" come back NULL — empty string is NOT
    distinguishable from NULL on the CSV ingest path. Anything non-empty
    round-trips byte-for-byte (quotes and commas included)."""
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf)
    for v in vals:
        w.writerow(["" if v is None else v])
    lines = buf.getvalue().splitlines()
    df = _csv_roundtrip(spark, tmp_path_factory, "v", lines)
    got = [r.v for r in df.collect()]
    expect = [None if not v else v for v in vals]
    assert sorted(got, key=lambda x: (x is None, x or "")) == sorted(
        expect, key=lambda x: (x is None, x or "")
    )


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=0,
        max_size=40,
    ),
)
@_spark_examples
def test_connected_components_match_reference(spark, edges):
    """min_label_components (driver union-find path on these sizes) must
    equal a naive Python BFS fixpoint: every edge-touched node labeled
    with its component's minimum id."""
    from apache_iceberg_spark.operators.dedup import min_label_components

    pairs = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    df = spark.createDataFrame(
        pairs or [], "doc_id_a long, doc_id_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in min_label_components(spark, df).collect()
    }
    # reference: adjacency BFS
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = set()
    seen: set = set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            n = frontier.pop()
            for m in adj[n]:
                if m not in comp:
                    comp.add(m)
                    frontier.append(m)
        seen |= comp
        lo = min(comp)
        expected |= {(n, lo) for n in comp}
    assert got == expected


@given(
    member_keys=st.sets(st.integers(0, 10_000), min_size=0, max_size=50),
    probe_keys=st.sets(st.integers(0, 10_000), min_size=0, max_size=80),
)
@_spark_examples
def test_bloom_prefilter_property(spark, member_keys, probe_keys):
    """bloom_prefilter must pass EVERY probe row whose key is a member
    (no false negatives, the correctness-critical direction) for
    arbitrary key sets, including empty ones."""
    import pyspark.sql.functions as F

    from apache_iceberg_spark.operators.pipeline import bloom_prefilter

    small = spark.createDataFrame(
        [(f"k{k}",) for k in member_keys] or [], "g string"
    )
    big = spark.createDataFrame(
        [(f"k{k}", k) for k in probe_keys] or [], "g string, id long"
    )
    kept = {r.id for r in bloom_prefilter(big, small, "g").collect()}
    assert member_keys & probe_keys <= kept


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=35),
        min_size=1,
        max_size=12,
    ),
)
@_spark_examples
def test_line_dedup_matches_python_reference(spark, docs):
    """dd10 vs a pure-Python model on adversarial 3-token-vocabulary
    corpora (maximal line collisions): global keep-first per distinct
    line by (doc_id, line_idx), per-doc counts, and in-order reassembly
    of the surviving text."""
    from apache_iceberg_spark.operators.pipeline import LINE_TOKENS, line_dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]

    keeper: dict = {}
    expected: dict = {}
    all_lines = []
    for doc_id, toks in enumerate(docs):
        for li in range((len(toks) + LINE_TOKENS - 1) // LINE_TOKENS):
            line = " ".join(toks[li * LINE_TOKENS : (li + 1) * LINE_TOKENS])
            all_lines.append((doc_id, li + 1, line))
    for doc_id, idx, line in sorted(all_lines):
        keeper.setdefault(line, (doc_id, idx))
    for doc_id, toks in enumerate(docs):
        n, kept = 0, []
        for li in range((len(toks) + LINE_TOKENS - 1) // LINE_TOKENS):
            line = " ".join(toks[li * LINE_TOKENS : (li + 1) * LINE_TOKENS])
            n += 1
            if keeper[line] == (doc_id, li + 1):
                kept.append(line)
        expected[doc_id] = (n, len(kept), " ".join(kept))

    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_lines_kept, r.text_kept)
        for r in line_dedup(d).collect()
    }
    assert got == expected


@given(
    batches=st.lists(
        st.tuples(
            st.booleans(),  # True = append, False = overwrite
            st.integers(1, 5),  # batch row count
        ),
        min_size=1,
        max_size=5,
    ),
)
@_spark_examples
def test_snapshot_append_incremental_model(spark, batches, tmp_path_factory):
    """Random commit sequences against the snapshot store: the latest
    read equals the cumulative model state, and for any append-only
    suffix the incremental scan returns exactly the batches in range."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        read_incremental,
        read_snapshot_dirs,
    )

    table = str(tmp_path_factory.mktemp("snap") / "t")
    state: list[set] = []  # per-version expected key set
    versions: list[tuple[int, bool]] = []  # (version, was_append)
    next_key = 0
    for is_append, n in batches:
        keys = set(range(next_key, next_key + n))
        next_key += n
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        if is_append and state:
            v = commit_append(df, table)
            state.append(state[-1] | keys)
        else:
            v = commit_snapshot(df, table)
            state.append(keys)
        versions.append((v, is_append and len(state) > 1))

    assert {r.k for r in read_snapshot_dirs(spark, table).collect()} == state[-1]
    # every version reads back its own state (snapshot isolation)
    for (v, _), expect in zip(versions, state):
        got = {r.k for r in read_snapshot_dirs(spark, table, version=v).collect()}
        assert got == expect
    # incremental over the longest append-only suffix
    first_of_suffix = len(versions) - 1
    while first_of_suffix > 0 and versions[first_of_suffix][1]:
        first_of_suffix -= 1
    v_from = versions[first_of_suffix][0]
    inc = {
        r.k
        for r in read_incremental(spark, table, from_version=v_from).collect()
    }
    assert inc == state[-1] - state[first_of_suffix]


@given(
    h=st.integers(0, 2**32 - 1),
    flips=st.lists(st.integers(0, 31), max_size=3, unique=True),
)
def test_mm6_band_pigeonhole_lossless(h, flips):
    """Any two 32-bit hashes within Hamming distance MM6_HAMMING_MAX must
    agree on at least one of the MM6_BANDS bit-bands (pigeonhole — the
    property that makes mm6's banded candidate generation LOSSLESS)."""
    from apache_iceberg_spark.operators.pipeline import (
        MM6_BAND_BITS,
        MM6_BANDS,
        MM6_HAMMING_MAX,
    )

    assert len(flips) <= MM6_HAMMING_MAX
    other = h
    for b in flips:
        other ^= 1 << b
    mask = (1 << MM6_BAND_BITS) - 1
    bands_agree = [
        ((h >> (MM6_BAND_BITS * i)) & mask)
        == ((other >> (MM6_BAND_BITS * i)) & mask)
        for i in range(MM6_BANDS)
    ]
    assert any(bands_agree)


@given(
    a=st.tuples(st.integers(0, 10**5), st.integers(0, 40)),
    b=st.tuples(st.integers(0, 10**5), st.integers(0, 40)),
)
def test_j7_bin_cover_lossless(a, b):
    """If two closed integer intervals overlap, they share at least one
    J7_BIN_DAYS-wide bin — so j7's (key, bin) candidate join can never
    miss an overlapping pair, whatever the bin width."""
    from apache_iceberg_spark.operators.functions_ext import J7_BIN_DAYS

    (s1, d1), (s2, d2) = a, b
    e1, e2 = s1 + d1, s2 + d2
    overlaps = s1 <= e2 and s2 <= e1
    bins1 = set(range(s1 // J7_BIN_DAYS, e1 // J7_BIN_DAYS + 1))
    bins2 = set(range(s2 // J7_BIN_DAYS, e2 // J7_BIN_DAYS + 1))
    if overlaps:
        assert bins1 & bins2


@given(
    keys=st.lists(st.integers(0, 2**60 - 1), min_size=1, max_size=200, unique=True),
    shift=st.integers(40, 59),
)
def test_pp8_two_level_rank_equals_global_rank(keys, shift):
    """The bucket-prefix + within-bucket rank decomposition must equal the
    global sorted rank for ANY bucket shift, because the bucket id is the
    top bits of the key (order-consistent prefix)."""
    order = {k: i + 1 for i, k in enumerate(sorted(keys))}
    buckets = {}
    for k in sorted(keys):
        buckets.setdefault(k >> shift, []).append(k)
    prefix, offset = {}, 0
    for b in sorted(buckets):
        prefix[b] = offset
        offset += len(buckets[b])
    for b, ks in buckets.items():
        for within, k in enumerate(sorted(ks), start=1):
            assert prefix[b] + within == order[k]


# ---------------------------------------------------------------------------
# round-8 kernels
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=40),
)
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_w11_rolling_median_python_model(spark, tmp_path_factory, values):
    """w11's lower-middle-of-sorted-frame median vs a pure-python model
    over arbitrary integer series (one user, event_id = position)."""
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
         1, "click", v / 100.0, "{}")
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    from apache_iceberg_spark.operators.functions_ext import W11_WIN


    d = str(tmp_path_factory.mktemp("w11_prop"))
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    from apache_iceberg_spark.registry import REGISTRY

    out = {
        r.event_id: r.med_centi
        for r in REGISTRY["w11_rolling_median"].spark(spark, d).collect()
    }
    for i in range(len(values)):
        frame = sorted(values[max(0, i - W11_WIN + 1): i + 1])
        assert out[i] == frame[(len(frame) + 1) // 2 - 1], i


@given(st.lists(st.integers(1, 6), min_size=1, max_size=200))
@settings(max_examples=200, deadline=None)
def test_a24_gini_python_model(labels):
    """a24's integer Gini/HHI formula vs the float definition, and the
    exact-complement invariant, over arbitrary label multisets."""
    from collections import Counter

    n = len(labels)
    ss = sum(c * c for c in Counter(labels).values())
    gini_micro = (n * n - ss) * 1_000_000 // (n * n)
    hhi_micro = ss * 1_000_000 // (n * n)
    # float reference within 1 micro (floor rounding)
    import math

    gini_f = 1.0 - sum(
        (c / n) ** 2 for c in Counter(labels).values()
    )
    assert math.isclose(gini_micro / 1e6, gini_f, abs_tol=2e-6)
    assert 0 <= 1_000_000 - (gini_micro + hhi_micro) <= 2
    # pure multiset -> gini 0
    if len(set(labels)) == 1:
        assert gini_micro == 0 and hhi_micro == 1_000_000


@given(
    st.lists(st.integers(0, 50), min_size=2, max_size=120),
    st.integers(1, 119),
)
@settings(max_examples=200, deadline=None)
def test_a25_ks_python_model(vals, cut):
    """a25's cross-multiplied integer KS vs the float definition on
    arbitrary splits of an integer series."""
    cut = min(cut, len(vals) - 1)
    ref, new = vals[:cut], vals[cut:]
    n1, n2 = len(ref), len(new)
    support = sorted(set(vals))
    d_scaled = max(
        abs(
            sum(1 for x in ref if x <= v) * n2
            - sum(1 for x in new if x <= v) * n1
        )
        for v in support
    )
    # float KS
    ks_f = max(
        abs(
            sum(1 for x in ref if x <= v) / n1
            - sum(1 for x in new if x <= v) / n2
        )
        for v in support
    )
    assert abs(d_scaled / (n1 * n2) - ks_f) < 1e-12
    assert 0 <= d_scaled <= n1 * n2


# ---------------------------------------------------------------------------
# round 12: incremental commit-log parser properties (pure kernel)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.dictionaries(
            st.sampled_from(["version", "ts_ms", "parent"]),
            st.integers(0, 10**6),
            min_size=1,
        ).map(lambda d: {**d, "version": d.get("version", 1)}),
        max_size=20,
    ),
    st.integers(0, 40),
)
def test_parse_seg_chunk_torn_tail_invariants(entries, torn_len):
    """For ANY entry list and ANY torn trailing fragment: the parser
    consumes exactly the newline-terminated prefix, returns exactly the
    complete entries, and re-parsing the unconsumed remainder after the
    'writer' finishes the line yields the missing entry — the
    crash-recovery algebra the incremental cache relies on."""
    import json as _json

    from apache_iceberg_spark.catalog.snapshots import _parse_seg_chunk

    complete = b"".join(
        _json.dumps(e).encode() + b"\n" for e in entries
    )
    tail_entry = {"version": 999_999, "ts_ms": 1}
    tail_bytes = _json.dumps(tail_entry).encode()
    torn = tail_bytes[: min(torn_len, len(tail_bytes) - 1)]  # never a full line
    data = complete + torn
    consumed, parsed = _parse_seg_chunk(data)
    assert consumed == len(complete)  # torn fragment never consumed
    assert parsed == entries
    # the writer finishes the line: the remainder now parses to the entry
    finished = data[consumed:] + tail_bytes[len(torn):] + b"\n"
    consumed2, parsed2 = _parse_seg_chunk(finished)
    assert consumed2 == len(finished)
    assert parsed2 == [tail_entry]


@given(st.binary(min_size=1, max_size=64))
def test_parse_seg_chunk_never_silently_drops_complete_garbage(blob):
    """A newline-terminated line that is not valid JSON must RAISE
    (corruption), never be skipped — the ADVICE-r11 loudness property.
    A trailing fragment without a newline must never raise."""
    import json as _json

    from apache_iceberg_spark.catalog.snapshots import _parse_seg_chunk

    # trailing fragment (no newline): never raises, never consumes
    assert _parse_seg_chunk(blob.replace(b"\n", b"x"))[0] == 0
    # newline-terminated: either valid JSON (parsed) or ValueError
    line = blob.replace(b"\n", b"x") + b"\n"
    try:
        consumed, parsed = _parse_seg_chunk(line)
        # no exception -> it must genuinely be JSON
        assert consumed == len(line)
        _json.loads(line)
    except ValueError:
        pass  # loud corruption: the required behavior


# ---------------------------------------------------------------------------
# round 15: MoR delete-file pruning soundness (pure-python model)
# ---------------------------------------------------------------------------

_dir_strategy = st.lists(
    st.tuples(
        st.sets(st.integers(0, 24), max_size=8),  # keys in the dir
        st.booleans(),                            # carries stats?
    ),
    min_size=1,
    max_size=5,
)
_del_strategy = st.lists(
    st.tuples(
        st.sets(st.integers(0, 24), max_size=6),  # delete keys
        st.booleans(),                            # carries stats?
        st.integers(0, 5),                        # version offset
    ),
    max_size=4,
)


@given(
    _dir_strategy,
    _del_strategy,
    st.integers(-2, 26),
    st.integers(-2, 26),
)
@settings(max_examples=400, deadline=None)
def test_prune_plan_is_exact_on_random_tables(dirs, dels, lo, hi):
    """SOUNDNESS of the delete-pruning proofs (m56's core), checked
    against a direct row-level model: for ANY layout of data dirs
    (with/without stats), delete files (with/without stats, any
    sequence position), and scan range, executing the PRUNED plan +
    row filter yields exactly the rows of the UNPRUNED semantics.
    Pure python — the planner (`_prune_plan`) is Spark-free, and the
    MoR read semantics (strictly-earlier delete application) are a
    three-line model."""
    from apache_iceberg_spark.catalog.snapshots import _prune_plan

    data = []
    rows = {}  # dir path -> set of keys
    for i, (keys, with_stats) in enumerate(dirs):
        v = i + 1
        stats = (
            {"k": [min(keys), max(keys)]} if (with_stats and keys) else {}
        )
        path = f"d{v}"
        data.append((path, v, stats))
        rows[path] = keys
    del_rows = {}
    dels = sorted(dels, key=lambda t: t[2])
    del_plan = []
    for j, (keys, with_stats, voff) in enumerate(dels):
        # spread deletes across versions: interleaved with the dirs,
        # before all of them, or after all of them
        dv = (j % (len(dirs) + 1)) + 1 + voff
        stats = (
            {"k": [min(keys), max(keys)]} if (with_stats and keys) else {}
        )
        dp = f"e{j}"
        del_plan.append((dp, ("k",), dv, stats))
        del_rows[dp] = keys

    def execute(data_part, dels_part):
        out = []
        for path, v, _s in data_part:
            alive = set(rows[path])
            for dp, _on, dv, _ds in dels_part:
                if dv > v:
                    alive -= del_rows[dp]
            out.extend(k for k in alive if lo <= k <= hi)
        return sorted(out)

    full = execute(data, del_plan)
    kept, kept_dels, _np, _nd = _prune_plan(data, del_plan, "k", lo, hi)
    pruned = execute(kept, kept_dels)
    assert pruned == full, (data, del_plan, lo, hi, kept, kept_dels)
