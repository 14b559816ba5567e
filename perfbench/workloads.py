"""The closed-loop workloads: one client, one op in flight.

Each workload stages its seeded inputs (:meth:`stage`), runs one op per
:meth:`op` call through the engine's public functions, and checks every
op against a ground truth computed outside the engine. ``op`` returns
its latency samples by kind and a zero-argument check.

Layer calls are wrapped in ``self.tr.span``; with the
:class:`~perfbench.spans.NullTracer` that is a no-op context manager.
Calls the engine makes internally (ledger resolution and pruning, table
loads inside registry queries) are only visible through
:meth:`instrumented`, which wraps them for the duration of one traced
op and restores them afterwards.
"""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.run import median
from perfbench.spans import NullTracer, duration, inclusive, self_times

from datapipeline_scraping_spark import queries
from datapipeline_scraping_spark.functions.checksum import row_checksum
from datapipeline_scraping_spark.operators.classify import (
    DEFAULT_CONFIG,
    classify,
    make_stub_backend,
)
from datapipeline_scraping_spark.operators.delta import delta_split
from datapipeline_scraping_spark.operators.merge import merge_into
from datapipeline_scraping_spark.operators.txn import ManifestTable
from datapipeline_scraping_spark.sources.scrape import paginated_list_scan


def _per_op(spans, names, value, within=None):
    """Median over traced ops of the per-op sum of ``value(span)`` over
    spans named in ``names`` (optionally only those below a span id in
    ``within``)."""
    acc: dict = defaultdict(float)
    ops = {s["op"] for s in spans if s["op"] is not None}
    for s in spans:
        if s["name"] in names and (within is None or s["id"] in within):
            acc[s["op"]] += value(s)
    return median([acc[o] for o in ops])


def _below(spans, roots):
    """Ids of spans that have an ancestor named in ``roots``, mapped to
    that ancestor's name."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] in roots:
                out[s["id"]] = by_id[p]["name"]
                break
            p = by_id[p]["parent"]
    return out


@contextmanager
def _wrapped(owner, attr, tracer, name, after=None):
    """Replace ``owner.attr`` by a spanned call for the block's duration;
    ``after(rec, args, result)`` may annotate the span."""
    orig = getattr(owner, attr)
    own = attr in vars(owner)

    def call(*args, **kwargs):
        with tracer.span(name) as rec:
            result = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, result)
            return result

    setattr(owner, attr, call)
    try:
        yield
    finally:
        if own:
            setattr(owner, attr, orig)
        else:
            delattr(owner, attr)


def _snapshot_bytes(path):
    """Bytes of every file of a snapshot, index sidecars included."""
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _dirs, fs in os.walk(path) for f in fs
    )


class EtlIncremental:
    """One op = one incremental batch (scrape -> checksum -> delta split
    against the ledger -> empty-delta gate -> classify -> merge ->
    copy-on-write commit), then a point lookup through the bloom index
    and a key-window read through the per-file stats of an orders table
    committed in set-up. The op's latency is the sum of the three."""

    name = "etl_incremental"
    kinds = ("cycle", "batch", "point", "range")
    metric_names = {
        "cycle": "cycle_p50_s",
        "batch": "batch_p50_s",
        "point": "point_p50_s",
        "range": "range_p50_s",
    }
    N_PAGES = 5
    ROWS_PER_PAGE = 100
    LEDGER_KEYS = 20_000
    CHANGE_FRAC = 0.075
    NEW_FRAC = 0.01
    # the lookup table: sf0.1's orders at its row counts, in 32 key ranges
    ORDERS = 150_000
    CUSTOMERS = 15_000
    ORDER_FILES = 32
    WINDOW = 5_000
    COLS = ["lookup_key", "payload", "row_hash", "sector"]

    def __init__(self, spark, workdir, seed):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.tr = NullTracer()

    def stage(self):
        self.model = gen.LedgerModel(self.seed, self.LEDGER_KEYS)
        pdf = pd.DataFrame(
            self.model.initial_rows(), columns=["lookup_key", "payload", "row_hash"]
        )
        pdf["sector"] = make_stub_backend(DEFAULT_CONFIG, "lookup_key")(pdf)
        self.ledger = ManifestTable(os.path.join(self.workdir, "ledger"))
        self.ledger.commit(
            self.spark.createDataFrame(pdf),
            stats_by=["lookup_key"],
            bloom_by=["lookup_key"],
        )
        self.orders_arrow = gen.orders(self.seed, self.ORDERS, self.CUSTOMERS)
        self.orders = ManifestTable(os.path.join(self.workdir, "orders"))
        self.orders.commit(
            self.spark.createDataFrame(self.orders_arrow.to_pandas()).repartitionByRange(
                self.ORDER_FILES, "o_orderkey"
            ),
            stats_by=["o_orderkey"],
            bloom_by=["o_custkey"],
        )
        self.lookup_args = gen.lookup_args(
            self.seed, self.CUSTOMERS, self.ORDERS, self.WINDOW
        )
        sc = self.spark.sparkContext
        self.fetches = sc.accumulator(0)
        self.backend_rows = sc.accumulator(0)
        self.stats = []

    def _fetcher(self, pages):
        acc = self.fetches

        def fetch(page: int) -> str:
            acc.add(1)
            return pages[page]

        return fetch

    def _backend(self):
        acc = self.backend_rows
        inner = make_stub_backend(DEFAULT_CONFIG, "lookup_key")

        def backend(pdf):
            acc.add(len(pdf))
            return inner(pdf)

        return backend

    def op(self):
        lat = {}
        ok = self._batch(lat)
        ok &= self._lookups(lat)
        lat["cycle"] = lat["batch"] + lat["point"] + lat["range"]
        return lat, lambda: ok

    def _batch(self, lat):
        spark, tr = self.spark, self.tr
        batch = self.model.next_batch(
            self.N_PAGES, self.ROWS_PER_PAGE, self.CHANGE_FRAC, self.NEW_FRAC
        )
        fetch0, backend0 = self.fetches.value, self.backend_rows.value
        t0 = time.perf_counter()
        with tr.span("etl.batch"):
            with tr.span("scrape.build"):
                raw = paginated_list_scan(
                    spark, self.N_PAGES, fetcher=self._fetcher(batch.pages)
                )
            with tr.span("checksum.build"):
                incoming = raw.select(
                    "lookup_key",
                    "payload",
                    row_checksum(["lookup_key", "payload"]).alias("row_hash"),
                )
            with tr.span("txn.read_build"):
                state = self.ledger.read(spark)
            with tr.span("delta.build"):
                changed, _bypass = delta_split(incoming, state, "lookup_key")
            with tr.span("delta.gate"):
                n_changed = changed.count()
            if n_changed:
                with tr.span("classify.build"):
                    labelled = classify(
                        changed,
                        DEFAULT_CONFIG,
                        "lookup_key",
                        ("payload", "row_hash"),
                        backend=self._backend(),
                        payload_cols=("payload", "row_hash"),
                    )
                with tr.span("merge.build"):
                    merged = merge_into(
                        state, labelled.select(*self.COLS), "lookup_key"
                    )
                with tr.span("txn.commit"):
                    self.ledger.commit(merged)
        lat["batch"] = time.perf_counter() - t0
        if tr.enabled:
            snap = os.path.join(self.ledger.root, self.ledger.last_snapshot)
            self.stats.append(
                {
                    "fetches": self.fetches.value - fetch0,
                    "backend_rows": self.backend_rows.value - backend0,
                    "changed": n_changed,
                    "incoming": batch.n_rows,
                    "bytes": _snapshot_bytes(snap),
                    # the engine's own data-file listing
                    "files": self.ledger.pruned_files("lookup_key")[1],
                }
            )
        return n_changed == batch.n_changed and self._ledger_ok()

    def _ledger_ok(self):
        """Row count equals the model's; every sector is a category."""
        cats = list(DEFAULT_CONFIG.categories)
        row = (
            self.ledger.read(self.spark)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("sector").isin(*cats), 0).otherwise(1)).alias("bad"),
            )
            .first()
        )
        return row["n"] == len(self.model.rows) and row["bad"] == 0

    def _lookups(self, lat):
        spark, tr = self.spark, self.tr
        cust, lo = next(self.lookup_args)
        hi = lo + self.WINDOW - 1
        cust_col, key_col = F.col("o_custkey"), F.col("o_orderkey")
        t0 = time.perf_counter()
        with tr.span("lookup.point"):
            with tr.span("txn.lookup_build"):
                df = self.orders.read_point(spark, "o_custkey", cust)
            with tr.span("txn.lookup_exec"):
                n_point = df.filter(cust_col == cust).count()
        t1 = time.perf_counter()
        with tr.span("lookup.range"):
            with tr.span("txn.lookup_build"):
                df = self.orders.read_range(spark, "o_orderkey", lo, hi)
            with tr.span("txn.lookup_exec"):
                n_range = df.filter(key_col.between(lo, hi)).count()
        lat["point"], lat["range"] = t1 - t0, time.perf_counter() - t1
        if tr.enabled:
            self.stats[-1]["hits"] = n_point + n_range
        t = self.orders_arrow
        want_point = pc.sum(pc.equal(t["o_custkey"], cust)).as_py()
        in_window = pc.and_(
            pc.greater_equal(t["o_orderkey"], lo), pc.less_equal(t["o_orderkey"], hi)
        )
        return n_point == want_point and n_range == pc.sum(in_window).as_py()

    def final_check(self):
        got = sorted(
            (r[0], r[1])
            for r in self.ledger.read(self.spark).select("lookup_key", "row_hash").collect()
        )
        return got == self.model.expected_state()

    @contextmanager
    def instrumented(self, tracer):
        """Spans around the transaction tables' own resolution and
        pruning calls."""

        def total(rec, _args, result):
            rec["total"] = result[1]

        def subset(rec, args, _result):
            rec["kept_files"] = sorted(args[2])

        MT = ManifestTable
        with ExitStack() as stack:
            for attr in ("version", "_log_entry", "snapshot_path"):
                stack.enter_context(_wrapped(MT, attr, tracer, "txn.version"))
            stack.enter_context(
                _wrapped(MT, "bloom_pruned_files", tracer, "txn.bloom_prune", total)
            )
            stack.enter_context(
                _wrapped(MT, "pruned_files", tracer, "txn.stats_prune", total)
            )
            stack.enter_context(
                _wrapped(MT, "_read_file_subset", tracer, "txn.file_subset", subset)
            )
            yield

    def layer_metrics(self, spans):
        st = self_times(spans)
        jobs, tasks = inclusive(spans, "jobs"), inclusive(spans, "tasks")
        batch = set(_below(spans, {"etl.batch"}))
        look = _below(spans, {"lookup.point", "lookup.range"})
        out = {}
        for layer in ("scrape", "checksum", "delta", "classify", "merge"):
            out[f"{layer}.build_s"] = _per_op(spans, {f"{layer}.build"}, duration)
        out["txn.read_build_s"] = _per_op(spans, {"txn.read_build"}, duration, batch)
        for name in ("delta.gate", "txn.commit"):
            out[f"{name}_s"] = _per_op(spans, {name}, duration)
            out[f"{name}_jobs"] = _per_op(spans, {name}, lambda s: jobs[s["id"]])
            out[f"{name}_tasks"] = _per_op(spans, {name}, lambda s: tasks[s["id"]])
        s = self.stats
        changed = sum(x["changed"] for x in s)
        out["scrape.fetches_per_page"] = sum(x["fetches"] for x in s) / (
            self.N_PAGES * len(s)
        )
        out["delta.changed_frac"] = changed / sum(x["incoming"] for x in s)
        out["classify.backend_rows_per_changed_row"] = (
            sum(x["backend_rows"] for x in s) / changed
        )
        out["txn.bytes_written_per_changed_row"] = sum(x["bytes"] for x in s) / changed
        out["txn.files_per_snapshot"] = median([x["files"] for x in s])
        # read side: only the spans below the two lookups
        out["txn.version_s"] = _per_op(spans, {"txn.version"}, lambda x: st[x["id"]], look)
        out["txn.bloom_prune_s"] = _per_op(
            spans, {"txn.bloom_prune"}, lambda x: st[x["id"]], look
        )
        out["txn.stats_prune_s"] = _per_op(
            spans, {"txn.stats_prune"}, lambda x: st[x["id"]], look
        )
        out["txn.lookup_build_s"] = _per_op(spans, {"txn.lookup_build"}, duration)
        out["txn.lookup_exec_s"] = _per_op(spans, {"txn.lookup_exec"}, duration)
        out["txn.lookup_jobs"] = _per_op(
            spans, {"txn.lookup_build", "txn.lookup_exec"}, lambda x: jobs[x["id"]]
        )
        # kept files of each lookup over the file count its pruning saw
        subsets = [x for x in spans if x["name"] == "txn.file_subset" and x["id"] in look]
        parent_of = {x["id"]: x["parent"] for x in spans}
        totals = {
            parent_of[x["id"]]: x["total"]
            for x in spans
            if x["name"] in ("txn.bloom_prune", "txn.stats_prune") and x["id"] in look
        }
        for kind in ("point", "range"):
            fr = [
                len(x["kept_files"]) / totals[x["parent"]]
                for x in subsets
                if look[x["id"]] == f"lookup.{kind}"
            ]
            out[f"txn.files_kept_frac.{kind}"] = median(fr)
        # rows in the files the lookups scanned, read from the footers
        rows = sum(
            pq.ParquetFile(fp).metadata.num_rows for x in subsets for fp in x["kept_files"]
        )
        out["txn.rows_scanned_per_hit"] = rows / sum(x["hits"] for x in s)
        return out


QUERY_FAMILY = {
    "q22_simhash": "dedup",
    "q21_cosine_topk": "similarity",
    "q53_tfidf_topterms": "text",
    "q23_text_metrics": "text",
    "q27_classify_backend": "classify",
}


def normalize(rows, cols):
    """Order-insensitive canonical form of a result: columns by name,
    rows sorted; NaN made comparable."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


class LlmCuration:
    """One op = one pass over the LLM-curation queries of the registry,
    in a seeded shuffled order, with ``clearCache`` after each query."""

    name = "llm_curation"
    kinds = ("pass",)
    metric_names = {"pass": "pass_p50_s"}
    # sf0.1's row counts
    N_DOCS = 5000
    N_VECS = 2000

    def __init__(self, spark, workdir, seed):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.tr = NullTracer()
        self.names = list(QUERY_FAMILY)
        self.oracle = None
        self.phases = []

    def stage(self):
        self.data_dir = os.path.join(self.workdir, "data")
        os.makedirs(self.data_dir, exist_ok=True)
        pq.write_table(
            gen.documents(self.seed, self.N_DOCS),
            os.path.join(self.data_dir, "documents.parquet"),
        )
        pq.write_table(
            gen.embeddings(self.seed, self.N_VECS),
            os.path.join(self.data_dir, "embeddings.parquet"),
        )
        self.order = gen.pass_orders(self.seed, self.names)

    def compute_oracle(self):
        """DuckDB oracle results for this run's inputs (runs once)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.oracle = {}
            for name in self.names:
                res = con.execute(queries.REGISTRY[name].oracle)
                cols = [d[0] for d in res.description]
                self.oracle[name] = (sorted(cols), normalize(res.fetchall(), cols))
        finally:
            con.close()

    def op(self):
        spark, tr = self.spark, self.tr
        results = {}
        t0 = time.perf_counter()
        for name in next(self.order):
            fam = QUERY_FAMILY[name]
            with tr.span("queries.query", query=name):
                with tr.span(f"{fam}.build"):
                    df = queries.REGISTRY[name].fn(spark, self.data_dir)
                if tr.enabled:
                    self._catalyst_phases(df)
                with tr.span(f"{fam}.exec"):
                    rows = df.collect()
                spark.catalog.clearCache()
            results[name] = (df.columns, rows)
        lat = {"pass": time.perf_counter() - t0}
        return lat, lambda: all(self.matches(n, *r) for n, r in results.items())

    def _catalyst_phases(self, df):
        """Analysis/optimization/planning times of the query's plan. The
        plan is built here, so the exec span that follows reuses it."""
        with self.tr.span("queries.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            ph = qe.tracker().phases()
            self.phases.append(
                {
                    "op": self.tr.op_id,
                    **{
                        p: ph.apply(p).durationMs()
                        for p in ("analysis", "optimization", "planning")
                    },
                }
            )

    def matches(self, name, cols, rows):
        want_cols, want_rows = self.oracle[name]
        got = normalize([tuple(r) for r in rows], cols)
        return sorted(cols) == want_cols and got == want_rows

    def final_check(self):
        return True

    @contextmanager
    def instrumented(self, tracer):
        """Spans around the session preparation and table loads every
        registry query performs."""
        with _wrapped(queries, "prepare", tracer, "session.prepare"), _wrapped(
            queries, "load_table", tracer, "tables.load"
        ):
            yield

    def layer_metrics(self, spans):
        jobs = inclusive(spans, "jobs")
        stages, tasks = inclusive(spans, "stages"), inclusive(spans, "tasks")
        fams = sorted(set(QUERY_FAMILY.values()))
        out = {}
        for fam in ("dedup", "similarity", "text"):
            out[f"{fam}.build_s"] = _per_op(spans, {f"{fam}.build"}, duration)
            out[f"{fam}.exec_s"] = _per_op(spans, {f"{fam}.exec"}, duration)
        out["classify.exec_s"] = _per_op(spans, {"classify.exec"}, duration)
        builds = {f"{f}.build" for f in fams}
        execs = {f"{f}.exec" for f in fams}
        out["queries.build_jobs"] = _per_op(spans, builds, lambda s: jobs[s["id"]])
        out["queries.exec_jobs"] = _per_op(spans, execs, lambda s: jobs[s["id"]])
        out["queries.exec_stages"] = _per_op(spans, execs, lambda s: stages[s["id"]])
        out["queries.exec_tasks"] = _per_op(spans, execs, lambda s: tasks[s["id"]])
        for p in ("analysis", "optimization", "planning"):
            per: dict = defaultdict(float)
            for x in self.phases:
                per[x["op"]] += x[p]
            out[f"queries.{p}_ms"] = median(list(per.values()))
        loads = [s for s in spans if s["name"] == "tables.load"]
        out["tables.load_s"] = median([duration(s) for s in loads])
        out["tables.load_jobs"] = median([jobs[s["id"]] for s in loads])
        out["session.prepare_s"] = median(
            [duration(s) for s in spans if s["name"] == "session.prepare"]
        )
        return out


WORKLOADS = {w.name: w for w in (EtlIncremental, LlmCuration)}
