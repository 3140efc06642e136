"""The benchmark's workloads.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned. A run repeats whole passes of
the workload's operation list, always in the same order, until
``--seconds`` would be exceeded (at least one pass), so every run of a
workload measures the same mix; what runs before an op changes its time,
so a seeded order would add seed-to-seed spread. Inputs come only from
the seed. Outputs are checked against DuckDB outside the timed calls.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import sys
import time
import traceback

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen, stats
from perfbench.trace import ProgressListener, Tracer, drain_listener_bus

SF = 0.1  # cdc and ingest scale: orders 150k rows
ANALYTICS_SF = 0.01  # analytics scale: lineitem 60k rows
WARM_SF = 0.001  # the scale lakehouse warm-up runs at


class Context:
    """State shared by a workload's set-up, loop and checks."""

    def __init__(self, spark, tracer: Tracer, listener: ProgressListener, root: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.listener = listener
        self.root = root
        self.seed = seed
        self.op_latency: list[float] = []
        self.kind_latency: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._req = itertools.count(1)

    def run_op(self, span: str, kind: str, fn):
        """One unit of work of a given kind: timed, traced as a root span,
        a raise counted as a failure. Returns ``fn()``'s result, or None if
        it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, next(self._req)):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{span} raised")
            out = None
        else:
            dt = time.perf_counter() - t0
            self.op_latency.append(dt)
            self.kind_latency.setdefault(kind, []).append(dt)
        self.tracer.collect()
        return out

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.fail(msg)

    def op_geomean(self) -> float:
        """Geometric mean over operation kinds of each kind's median latency:
        every kind weighs the same, whatever its speed or count."""
        meds = [statistics.median(v) for v in self.kind_latency.values()]
        return math.exp(sum(math.log(m) for m in meds) / len(meds))

    def median(self, *kinds: str) -> float | None:
        """Median latency of the ops of the given kinds, pooled."""
        xs = [x for k in kinds for x in self.kind_latency.get(k, [])]
        return statistics.median(xs) if xs else None

    def op_runner(self, timed: bool):
        """``run_op`` for the measured loop; a plain call for warm-up."""
        return self.run_op if timed else (lambda span, kind, fn: fn())


def arrow_rows(tbl: pa.Table) -> tuple[list[tuple], list[str]]:
    """Rows and column names of an Arrow result, with zone-aware
    timestamps made naive (UTC wall time), as ``collect()`` gives them
    under the engine's UTC session."""
    cols = []
    for col in tbl.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col.to_pylist())
    return list(zip(*cols)), tbl.column_names


def _epoch_us(tbl: pa.Table) -> pa.Table:
    """Timestamps as int64 microseconds, so engines' zone flavours compare."""
    cols = []
    for col in tbl.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
        cols.append(col)
    return pa.table(cols, names=tbl.column_names)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _duck_views(con, sf_dir: str) -> None:
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

#: One registered operator per operator module, chosen from the driver-bound
#: (q3, j1) and executor-bound (dd5, g1) ends, each with a DuckDB oracle
#: cheap enough to check every run; st4 is the streaming-layer member.
ANALYTICS_MIX = (
    "q3_top_orders",
    "q18_large_volume_customers",
    "j1_inner_join",
    "ts3_asof_join",
    "m2_salted_join_skew",
    "dd5_embedding_neardup",
    "ann3_ivf",
    "tx16_rarity_filter",
    "g1_pagerank",
    "pp1_corpus_curation",
    "st4_stream_static_join",
)
STREAM_OPS = ("st4_stream_static_join",)  # the mix's streaming.events members


class Analytics:
    """Registered batch operators (and one stream-static join) at sf0.01:
    Catalyst, the operators and the shuffle; no commit layer, no loader.
    sf0.01, not sf0.1: a cold sf0.1 pass of this mix takes ~35 s on four
    cores, which the benchmark's per-run time budget cannot hold."""

    name = "analytics"
    cores = None  # every core

    def generate(self, root: str, seed: int) -> list[str]:
        gen.write_tables(os.path.join(root, "sf"), ANALYTICS_SF, seed)
        return [os.path.join(root, "sf")]

    def warm_up(self, ctx: Context) -> list:
        from apache_iceberg_spark import registry

        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        # Warm-up runs on the measured tables: after a sf0.001 warm-up, the
        # first run at the measured scale was still up to 4x slower (g1).
        sf = os.path.join(ctx.root, "sf")
        return [lambda q=self.queries[name]: q(ctx.spark, sf).toArrow() for name in ANALYTICS_MIX]

    def prepare(self, ctx: Context) -> None:
        self.sf_dir = os.path.join(ctx.root, "sf")
        # One untimed pass in the measured order: after the parallel
        # warm-up alone, the first measured pass was still ~25% slower
        # than the passes after it.
        for name in ANALYTICS_MIX:
            self.queries[name](ctx.spark, self.sf_dir).toArrow()
        self.results: dict[str, list[pa.Table]] = {}
        self.stream_runs: list[str] = []

    def run_pass(self, ctx: Context, idx: int) -> None:
        for name in ANALYTICS_MIX:
            fn = self.queries[name]
            module = fn.__module__.rsplit(".", 1)[1]
            started = len(ctx.listener.started)
            tbl = ctx.run_op(f"operators.{module}", name, lambda: fn(ctx.spark, self.sf_dir).toArrow())
            if tbl is not None:
                if module == "events":
                    self.stream_runs += ctx.listener.started[started:]
                self.results.setdefault(name, []).append(tbl)  # digested after the loop

    def verify(self, ctx: Context) -> None:
        from check_correctness import table_digest

        con = duckdb.connect()
        _duck_views(con, self.sf_dir)
        for name, tbls in self.results.items():
            res = con.execute(self.oracles[name])
            want = table_digest(res.fetchall(), [d[0] for d in res.description])
            for tbl in tbls:
                rows, cols = arrow_rows(tbl)
                got = table_digest(rows, cols)
                ctx.check(got == want, f"{name}: digest {got} ({len(rows)} rows) != oracle {want}")
        con.close()

    def detail(self, ctx: Context, loop_s: float) -> dict:
        drain_listener_bus(ctx.spark)
        runs = set(self.stream_runs)
        triggers = [
            p["duration_ms"].get("triggerExecution", 0) / 1000.0
            for p in ctx.listener.progress
            if p["run_id"] in runs
        ]
        t = stats.tail(ctx.op_latency)
        return {
            "query_p50_s": (statistics.median(ctx.op_latency), "s"),
            "query_tail_s": (t[1], f"s@p{t[0]:g}") if t else (None, "s"),
            "queries_per_s": (len(ctx.op_latency) / loop_s, "1/s"),
            "stream_run_p50_s": (ctx.median(*STREAM_OPS), "s"),
            "trigger_p50_s": (statistics.median(triggers) if triggers else None, "s"),
        }

    def layer(self, ctx: Context) -> dict:
        return {}


# ---------------------------------------------------------------------------
# cdc
# ---------------------------------------------------------------------------

#: Keys per batch: one st30/st37 micro-batch merge at sf0.1 (a third of the
#: second half of ``events``, 17,170 rows, reduces to its 1,500 user keys).
CDC_BATCH = 1500
#: Assumed, not measured: the share of a batch drawn from the hot keys,
#: from the live keys uniformly and from new keys, per batch kind.
CDC_UPSERT = (1 / 3, 1 / 2, 1 / 6)
CDC_DELETE = (1 / 3, 2 / 3, 0.0)
CDC_HOT = 500  # hot keys (fixed per seed) that recur across merges; assumed
CDC_CYCLES = 4  # cycles per pass (one per load)
CDC_DELETE_CYCLE = 2  # its merge deletes instead of upserting
CDC_COMPACT_CYCLE = 1  # compact_mor after the read
CDC_COW_CYCLE = 3  # a CoW upsert merge after the read


class ChangeFeed:
    """One snapshot table and the seeded change feed applied to it, with
    the key-set model the checks compare against. Feed batches are
    written as parquet before the call that consumes them is timed."""

    def __init__(self, base_dir: str, table: str, seed: int, stream: int, scale: float):
        self.base = os.path.join(base_dir, "orders.parquet")
        self.table = table
        self.batch_keys = max(3, int(CDC_BATCH * scale))
        self.rng = np.random.default_rng([seed, stream])
        self.customers = gen.table_rows(SF)["customer"]
        n = pq.ParquetFile(self.base).metadata.num_rows
        self.live = np.arange(n, dtype=np.int64)
        self.next_key = n
        self.hot = np.random.default_rng([seed, 2]).choice(n, min(CDC_HOT, n), replace=False)
        self.feed = table + "_feed"
        self.log: list[tuple[str, str]] = []
        self.rows_applied = 0
        self.debts: list[int] = []
        self.batch = itertools.count()

    def commit_base(self, spark) -> None:
        from apache_iceberg_spark.catalog import snapshots

        snapshots.commit_snapshot(spark.read.parquet(self.base), self.table)

    def _batch(self, keys: np.ndarray, kind: str) -> str:
        path = os.path.join(self.feed, f"{next(self.batch):05d}-{kind}.parquet")
        os.makedirs(self.feed, exist_ok=True)
        pq.write_table(gen.orders_rows(self.rng, np.sort(keys), self.customers), path)
        self.log.append((kind, path))
        self.rows_applied += len(keys)
        return path

    def _sample(self, shares: tuple[float, float, float]) -> np.ndarray:
        n_hot, n_live, n_new = (round(self.batch_keys * f) for f in shares)
        hot = self.rng.choice(self.hot, min(n_hot, len(self.hot)), replace=False)
        live = self.rng.choice(self.live, min(n_live, len(self.live)), replace=False)
        new = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
        self.next_key += n_new
        return np.unique(np.concatenate([hot, live, new]))

    def cycle(self, ctx: Context, i: int, timed: bool) -> None:
        """Cycle ``i`` of a pass, one op per call: append, MoR merge (a
        delete on the delete cycle), count read; then a compaction or a CoW
        merge on their cycles, so merge-on-read debt rises and falls within
        every pass."""
        from apache_iceberg_spark.catalog import snapshots

        spark, table = ctx.spark, self.table
        op = ctx.op_runner(timed)
        app_keys = np.arange(self.next_key, self.next_key + self.batch_keys, dtype=np.int64)
        self.next_key += len(app_keys)
        app = self._batch(app_keys, "append")
        op("cdc.append", "append", lambda: snapshots.commit_append_ref(spark.read.parquet(app), table, "main"))
        self.live = np.union1d(self.live, app_keys)

        if i == CDC_DELETE_CYCLE:
            keys = self._sample(CDC_DELETE)
            merge = self._batch(keys, "delete")
            op("cdc.merge", "merge_delete", lambda: snapshots.merge_into(
                spark, table, spark.read.parquet(merge), on=["o_orderkey"],
                when_matched="delete", when_not_matched="ignore", strategy="mor"))
            self.live = np.setdiff1d(self.live, keys)
        else:
            keys = self._sample(CDC_UPSERT)
            merge = self._batch(keys, "upsert")
            op("cdc.merge", "merge_upsert", lambda: snapshots.merge_into(
                spark, table, spark.read.parquet(merge), on=["o_orderkey"], strategy="mor"))
            self.live = np.union1d(self.live, keys)

        self.debts.append(snapshots.mor_debt(table))  # metadata only, outside any op
        n = op("cdc.read", "read", lambda: snapshots.read_ref(spark, table, "main").count())
        if timed and n is not None:
            ctx.check(n == len(self.live), f"cdc read count {n} != model {len(self.live)}")

        if i == CDC_COMPACT_CYCLE:
            op("cdc.compact", "compact", lambda: snapshots.compact_mor(spark, table))
        elif i == CDC_COW_CYCLE:
            cow_keys = self._sample(CDC_UPSERT)
            cow = self._batch(cow_keys, "upsert")
            op("cdc.merge", "merge_cow", lambda: snapshots.merge_into(
                spark, table, spark.read.parquet(cow), on=["o_orderkey"], strategy="cow"))
            self.live = np.union1d(self.live, cow_keys)


class Cdc:
    """A change feed against one snapshot table (orders sf0.1, 150k rows):
    each cycle appends new keys, MoR-merges a skewed key sample and
    serves a count read; one cycle of each pass compacts and another runs
    a CoW merge, so merge-on-read debt rises and falls."""

    def generate(self, root: str, seed: int) -> list[str]:
        gen.write_tables(os.path.join(root, "base"), SF, seed, only=("orders",))
        gen.write_tables(os.path.join(root, "cdc_warm"), WARM_SF, seed, only=("orders",))
        return [os.path.join(root, "base")]

    def warm_up(self, ctx: Context) -> list:
        """Independent small tables, one per cycle shape, warmed in parallel."""

        def task(i: int):
            def go():
                f = ChangeFeed(os.path.join(ctx.root, "cdc_warm"), os.path.join(ctx.root, f"warm_{i}"),
                               ctx.seed, 10 + i, 0.01)
                f.commit_base(ctx.spark)
                f.cycle(ctx, i, timed=False)
            return go

        return [task(i) for i in (CDC_COMPACT_CYCLE, CDC_DELETE_CYCLE, CDC_COW_CYCLE)]

    def prepare(self, ctx: Context) -> None:
        self.feed = ChangeFeed(os.path.join(ctx.root, "base"), os.path.join(ctx.root, "table", "orders"),
                               ctx.seed, 4, 1.0)
        self.feed.commit_base(ctx.spark)
        self.bytes_after_prepare = dir_bytes(self.feed.table)

    def verify(self, ctx: Context) -> None:
        from apache_iceberg_spark.catalog import snapshots

        table = self.feed.table
        got = _epoch_us(snapshots.read_ref(ctx.spark, table, "main").toArrow())
        con = duckdb.connect()
        con.execute(f"CREATE TABLE m AS SELECT * FROM read_parquet('{self.feed.base}')")
        for kind, path in self.feed.log:
            src = f"read_parquet('{path}')"
            if kind in ("upsert", "delete"):
                con.execute(f"DELETE FROM m WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            if kind in ("append", "upsert"):
                con.execute(f"INSERT INTO m SELECT * FROM {src}")
        want = _epoch_us(con.execute("SELECT * FROM m ORDER BY o_orderkey").arrow())
        con.close()
        got = got.sort_by("o_orderkey").select(want.column_names)
        if got.num_rows != want.num_rows:
            ctx.fail(f"cdc final rows {got.num_rows} != model {want.num_rows}")
        else:
            ctx.check(
                all(got.column(c).equals(want.column(c).cast(got.schema.field(c).type)) for c in want.column_names),
                "cdc final state differs from the DuckDB model",
            )
        # Space amplification: the table's bytes against the same final
        # state committed once to a fresh path.
        fresh = os.path.join(ctx.root, "fresh", "orders")
        snapshots.commit_snapshot(snapshots.read_ref(ctx.spark, table, "main"), fresh)
        self.space_amp = dir_bytes(table) / dir_bytes(fresh)

    def detail(self, ctx: Context, loop_s: float) -> dict:
        return {
            "append_p50_s": (ctx.median("append"), "s"),
            "merge_p50_s": (ctx.median("merge_upsert", "merge_delete"), "s"),
            "read_p50_s": (ctx.median("read"), "s"),
            "changes_per_s": (self.feed.rows_applied / loop_s, "1/s"),
            "space_amp": (self.space_amp, "ratio"),
        }

    def layer(self, ctx: Context) -> dict:
        table = self.feed.table
        top = [os.path.join(table, e) for e in os.listdir(table)]
        return {
            "snapshots.mor_debt": statistics.mean(self.feed.debts),
            "snapshots.bytes_written_mb": (dir_bytes(table) - self.bytes_after_prepare) / 1e6,
            "snapshots.log_bytes": sum(os.path.getsize(p) for p in top if os.path.isfile(p)),
            "snapshots.dirs": sum(1 for p in top if os.path.isdir(p)),
        }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

#: (load name, source, table, csv-export filter, csv-export columns, parquet-export filter).
#: The exports follow the reference's two: ``wa_users.csv`` keeps 489 of
#: 49,990 rows (~1%) and 7 of 18 columns, ``sports_fans.parquet`` 8,682
#: rows (~17%) and every column. So each CSV export keeps ~1% of the rows
#: and two columns, each parquet export ~15-17% of the rows.
INGEST_LOADS = (
    ("small_per_file", "small", None, "c_nationkey = 7 AND c_mktsegment = 'BUILDING'",
     "c_custkey c_name", "c_acctbal > 8100"),
    ("small_merged", "small", "customer_merged", "c_nationkey = 7 AND c_mktsegment = 'BUILDING'",
     "c_custkey c_name", "c_acctbal > 8100"),
    ("large", "large/orders.csv", "orders_csv", "o_totalprice > 495000",
     "o_orderkey o_totalprice", "o_totalprice < 85000"),
    ("multiline", "multiline/documents.csv", "documents_csv", "lang = 'de' AND source = 'src3'",
     "doc_id lang", "lang = 'fr'"),
)
#: Assumed, not measured: how many small files the glob loads cut the
#: customer table into, and the share of documents with a quoted newline.
INGEST_SMALL_FILES = 4
INGEST_NEWLINE_SHARE = 0.02  # documents whose text carries a quoted newline

_FAMILY = {
    "int": "int", "bigint": "int", "smallint": "int", "tinyint": "int", "hugeint": "int",
    "integer": "int", "long": "int", "double": "float", "float": "float", "real": "float",
    "string": "str", "varchar": "str", "timestamp": "ts", "timestamp_ntz": "ts",
    "date": "date", "boolean": "bool",
}


def _family(type_name: str) -> str:
    t = type_name.lower().split("(")[0]
    return "float" if t.startswith("decimal") else _FAMILY.get(t, t)


class Ingest:
    """The reference's CSV → table loader and its exports: small files per
    file and glob-merged, one large file, one multiLine file; each load is
    followed by a CSV and a parquet export of a filtered projection."""

    def generate(self, root: str, seed: int) -> list[str]:
        only = ("customer", "orders", "documents")
        for sub, sf in (("csv", SF), ("csv_warm", WARM_SF)):
            d = os.path.join(root, sub)
            tbls = gen.make_tables(sf, seed, only)
            for part in ("small", "large", "multiline"):
                os.makedirs(os.path.join(d, part), exist_ok=True)
            cust = tbls["customer"]
            step = -(-cust.num_rows // INGEST_SMALL_FILES)
            for i in range(INGEST_SMALL_FILES):
                gen.write_csv(os.path.join(d, "small", f"customer_part_{i + 1}.csv"), cust.slice(i * step, step))
            gen.write_csv(os.path.join(d, "large", "orders.csv"), tbls["orders"])
            docs = tbls["documents"]
            rng = np.random.default_rng([seed, 3])
            pick = rng.random(docs.num_rows) < INGEST_NEWLINE_SHARE
            text = pc.if_else(pa.array(pick), pc.replace_substring(docs["text"], " ", "\n", max_replacements=1), docs["text"])
            docs = docs.set_column(docs.column_names.index("text"), "text", text)
            gen.write_csv(os.path.join(d, "multiline", "documents.csv"), docs)
        return [os.path.join(root, "csv", part) for part in ("small", "large", "multiline")]

    def prepare(self, ctx: Context) -> None:
        self.csv_bytes_loaded = 0
        self.results: list[tuple] = []

    def warm_up(self, ctx: Context) -> list:
        # The large file takes the per-file load's code path.
        return [
            lambda load=load: self._load(ctx, os.path.join(ctx.root, "csv_warm"), load, "warm", timed=False)
            for load in INGEST_LOADS
            if load[0] != "large"
        ]

    def _config(self, src_root: str, load: tuple, namespace: str):
        from apache_iceberg_spark.ingest.loader import LoaderConfig

        name, src, table, *_ = load
        path = os.path.join(src_root, src)
        if src == "small":
            return LoaderConfig(source_path=path, glob_pattern="*.csv", namespace=namespace,
                                table_name=table or "", glob_merge_table=table is not None)
        return LoaderConfig(source_path=path, table_name=table, namespace=namespace)

    def _load(self, ctx: Context, src_root: str, load: tuple, tag: str, timed: bool) -> None:
        """One pipeline load, then its CSV and parquet export: three ops."""
        from apache_iceberg_spark.ingest import loader
        from apache_iceberg_spark.io import export

        name, src, table, csv_filter, csv_cols, pq_filter = load
        namespace = "bench_warm" if tag == "warm" else "bench"
        config = self._config(src_root, load, namespace)
        out_dir = os.path.join(ctx.root, "export", tag, name)
        csv_out, pq_out = os.path.join(out_dir, "out.csv"), os.path.join(out_dir, "out.parquet")
        op = ctx.op_runner(timed)
        failed = ctx.failed

        summary = op("ingest.load", f"load_{name}", lambda: loader.csv_to_table_pipeline(ctx.spark, config))
        if summary is None:
            return
        df = ctx.spark.table(summary["results"][0]["table"])
        op("ingest.export", "export_csv", lambda: export.export_csv(df.filter(csv_filter).select(*csv_cols.split()), csv_out))
        op("ingest.export", "export_parquet", lambda: export.export_parquet(df.filter(pq_filter), pq_out))
        if timed and ctx.failed == failed:
            files = loader_files(config)
            self.csv_bytes_loaded += sum(os.path.getsize(f) for f in files)
            self.results.append((name, files, summary, csv_filter, pq_filter, csv_out, pq_out))

    def verify(self, ctx: Context) -> None:
        con = duckdb.connect()
        for name, files, summary, csv_filter, pq_filter, csv_out, pq_out in self.results:
            ctx.check(summary["exit_code"] == 0, f"{name}: pipeline exit {summary['exit_code']}")
            src = "read_csv([{}], header=true, quote='\"', escape='\"')".format(
                ", ".join(f"'{f}'" for f in files)
            )
            if len(summary["results"]) == len(files):  # per-file mode: one table per file
                parts = [(r, f"read_csv('{f}', header=true, quote='\"', escape='\"')")
                         for r, f in zip(summary["results"], files)]
            else:
                parts = [(summary["results"][0], src)]
            for res, rel in parts:
                desc = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
                want_rows = con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
                ctx.check(res.get("rows") == want_rows, f"{name}: loaded {res.get('rows')} rows, DuckDB {want_rows}")
                schema = ctx.spark.table(res["table"]).schema
                got = [(f.name, _family(f.dataType.simpleString())) for f in schema.fields]
                want = [(d[0], _family(d[1])) for d in desc]
                ctx.check(got == want, f"{name}: schema {got} != DuckDB {want}")
            first = parts[0][1]
            for out, flt in ((csv_out, csv_filter), (pq_out, pq_filter)):
                reader = "read_parquet" if out.endswith(".parquet") else "read_csv"
                got_n = con.execute(f"SELECT count(*) FROM {reader}('{out}')").fetchone()[0]
                want_n = con.execute(f"SELECT count(*) FROM {first} WHERE {flt}").fetchone()[0]
                ctx.check(got_n == want_n, f"{name}: export {os.path.basename(out)} {got_n} rows, DuckDB {want_n}")
        con.close()

    def detail(self, ctx: Context, loop_s: float) -> dict:
        loads = [f"load_{load[0]}" for load in INGEST_LOADS]
        load_s = sum(x for k in loads for x in ctx.kind_latency.get(k, []))
        return {
            "load_p50_s": (ctx.median(*loads), "s"),
            "ingest_mb_per_s": (self.csv_bytes_loaded / 1e6 / load_s if load_s else None, "MB/s"),
            "export_p50_s": (ctx.median("export_csv", "export_parquet"), "s"),
        }


def loader_files(config) -> list[str]:
    from apache_iceberg_spark.ingest.sources import get_files_to_process

    return [p for p, _ in get_files_to_process(config.source_path, config.glob_pattern)]


class Lakehouse:
    """The write side: CSV loads with their exports (``ingest.loader``,
    ``io.export``) interleaved with change-feed cycles against a snapshot
    table (``catalog.snapshots``); no registered operator runs."""

    name = "lakehouse"
    #: Spark cores. Its ops are short chains of small Spark jobs. On a
    #: shared 4-vCPU VM, local[4] was no faster than local[2] when the host
    #: was calm, and under the hypervisor's steal op_geomean_s rose about
    #: 3% per point of steal share on local[4] against about 2% on
    #: local[2], so runs spread less on 2 cores; local[1] was slower under
    #: steal again.
    cores = 2

    def __init__(self):
        self.ingest = Ingest()
        self.cdc = Cdc()

    def generate(self, root: str, seed: int) -> list[str]:
        return self.cdc.generate(root, seed) + self.ingest.generate(root, seed)

    def warm_up(self, ctx: Context) -> list:
        return self.cdc.warm_up(ctx) + self.ingest.warm_up(ctx)

    def prepare(self, ctx: Context) -> None:
        self.cdc.prepare(ctx)
        self.ingest.prepare(ctx)

    def run_pass(self, ctx: Context, idx: int) -> None:
        src = os.path.join(ctx.root, "csv")
        for i in range(CDC_CYCLES):
            self.ingest._load(ctx, src, INGEST_LOADS[i], f"p{idx}", timed=True)
            self.cdc.feed.cycle(ctx, i, timed=True)

    def verify(self, ctx: Context) -> None:
        self.cdc.verify(ctx)
        self.ingest.verify(ctx)

    def detail(self, ctx: Context, loop_s: float) -> dict:
        return {**self.cdc.detail(ctx, loop_s), **self.ingest.detail(ctx, loop_s)}

    def layer(self, ctx: Context) -> dict:
        return self.cdc.layer(ctx)


WORKLOADS = {w.name: w for w in (Analytics(), Lakehouse())}
