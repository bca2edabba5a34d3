"""The benchmark workloads. Each has ``setup`` (input generation and table
preparation, timed as set-up) and ``run`` (warm-up, correctness gate,
timed loop, final checks). ``run`` returns the operation latencies, the
completed-operation rate and the per-layer metrics.

See README.md in this directory for why each workload exists and which
layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import bisect
import math
import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pyarrow.parquet as pq

from harness import REPO_ROOT, Outcome, Tracer, median

import datagen

DASHBOARD_QUERIES = (
    "mv_daily_sales", "mv_monthly_sales", "mv_category_sales", "mv_state_sales",
    "mv_seller_performance", "mv_payment_analysis", "mv_hourly_pattern",
    "daily_sales_summary", "tpch_q5", "tpch_q18", "rollup_sales",
    "top_orders_with_customer", "pivot_status_by_year",
)
# One job from each of plans.text, plans.similarity and plans.dedup, run in
# the dashboard mix so those layers are measured on a kept workload. Each
# takes about as long as a dashboard query (0.6-1 s at sf0.01 on 4 cores),
# so the mix's latencies do not split into two clusters.
CURATION_SAMPLE = ("tfidf_top_terms", "knn_bruteforce_cosine", "minhash_signatures")
CURATION_QUERIES = (
    "dedup_minhash_lsh", "dedup_components", "knn_lsh_bucketed",
    "tfidf_top_terms", "curation_funnel_report", "contamination_minhash",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med_s(spans: list[dict]) -> float:
    """Median span duration; 0 when the layer never ran."""
    return median([s["end"] - s["start"] for s in spans]) if spans else 0.0


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}".splitlines()[0]


class Result:
    def __init__(self):
        self.latencies: list[float] = []
        self.p50: float | None = None  # set when the pooled median is not the right centre
        self.ops_per_s = 0.0
        self.layers: dict[str, float] = {}
        self.info: dict = {}


def _oracle_tools():
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from diffcheck import compare, load_oracle

    return compare, load_oracle


def _spark_counters(spans: list[dict]) -> dict[str, float]:
    keys = ("jobs", "tasks", "task_busy_s", "input_bytes", "input_records",
            "shuffle_bytes", "spill_bytes")
    tot = {k: 0.0 for k in keys}
    for s in spans:
        for k in keys:
            tot[k] += s.get("spark", {}).get(k, 0)
    return tot


# -- registered-query workloads ----------------------------------------------------

class QueryMix:
    """Registered queries over a generated star schema, checked once each
    against their DuckDB oracle, then run by closed-loop clients."""

    name = ""
    queries: tuple[str, ...] = ()
    sf = 0.01
    clients = 1

    def setup(self, spark, root: str, seed: int) -> None:
        from end_to_end_data_lakehouse_pipeline_spark import plans

        self.seed = seed
        self.sf_dir = os.path.join(root, "tables")
        datagen.write_star_schema(seed, self.sf, self.sf_dir)
        registered = plans.queries()
        self.fns = {n: registered[n] for n in self.queries}
        self.oracle_sql = {n: plans.oracles()[n] for n in self.queries}

    def _gate(self, spark, out: Outcome) -> dict[str, int]:
        """Untimed: each query once, compared with its oracle; this also
        warms the JIT (a second pass took only ~5% longer than a third).
        Returns the checked row count per query."""
        import duckdb

        compare, load_oracle = _oracle_tools()
        con = duckdb.connect()
        load_oracle(con, self.sf_dir)
        with ThreadPoolExecutor(self.clients) as pool:
            futures = {n: pool.submit(lambda n: self.fns[n](spark, self.sf_dir).toPandas(), n)
                       for n in self.queries}
        rows: dict[str, int] = {}
        for n, fut in futures.items():
            try:
                got = fut.result()
                want = con.execute(self.oracle_sql[n]).df()
                problems = compare(n, got, want)
                if out.check(f"gate {n}", not problems, "; ".join(problems)):
                    rows[n] = len(got)
            except Exception as e:  # recorded as a failed operation
                out.fail(f"gate {n}", _err(e))
        con.close()
        return rows

    def _one(self, spark, n: str, tr: Tracer, out: Outcome, expect: int | None):
        t0 = time.perf_counter()
        with tr.span(f"{self.name}.query", tr.new_trace(), query=n):
            with tr.span("plans.build", spark=spark):
                df = self.fns[n](spark, self.sf_dir)
            with tr.span("plans.collect", spark=spark):
                got = len(df.collect())
        lat = time.perf_counter() - t0
        if expect is None:
            out.fail(f"query {n}", "no oracle-checked row count")
        else:
            out.check(f"query {n}", got == expect, f"rows {got} != checked {expect}")
        return lat

    def run(self, spark, seconds: float, tr: Tracer, out: Outcome, min_n: int) -> Result:
        res = Result()
        t0 = time.perf_counter()
        expect = self._gate(spark, out)
        lock = threading.Lock()
        t_start = time.perf_counter()
        res.info["warmup_s"] = t_start - t0
        deadline, hard_stop = t_start + seconds, t_start + 2 * seconds
        by_query: dict[str, list[float]] = {}
        rng = random.Random(self.seed)
        order: list[str] = []
        passes = 0

        def next_query() -> str | None:
            """The clients share passes over the mix, each in seeded order. A
            new pass starts only before the deadline, so the window holds
            whole passes: every query runs equally often, so the rate and
            CPU per query do not depend on which queries a partial pass
            happened to hold."""
            nonlocal passes
            with lock:
                now = time.perf_counter()
                if now >= hard_stop:
                    return None
                if not order:
                    if now >= deadline and len(res.latencies) >= min_n:
                        return None
                    order.extend(self.queries)
                    rng.shuffle(order)
                    passes += 1
                return order.pop()

        def client() -> None:
            while (n := next_query()) is not None:
                try:
                    lat = self._one(spark, n, tr, out, expect.get(n))
                    with lock:
                        res.latencies.append(lat)
                        by_query.setdefault(n, []).append(lat)
                except Exception as e:
                    out.fail(f"query {n}", _err(e))

        threads = [threading.Thread(target=client, daemon=True) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window = time.perf_counter() - t_start
        res.ops_per_s = len(res.latencies) / window
        if by_query:
            # The mix's latencies cluster by query, and the pooled median falls
            # on the edge between the fast and the slower queries, where it
            # jumps by 20% between runs. The geometric mean of the per-query
            # medians (the usual summary of a query suite) is steady.
            res.p50 = math.exp(_mean(math.log(median(v)) for v in by_query.values()))
        res.info.update({"sf": self.sf, "clients": self.clients, "passes": passes, "window_s": window})
        if tr.enabled:
            tr.resolve_counters(spark)
            builds, collects = tr.by_name("plans.build"), tr.by_name("plans.collect")
            c = _spark_counters(builds + collects)
            nq = max(1, len(collects))
            cpus = spark.sparkContext.defaultParallelism
            res.layers.update({
                "plans.build_s": _med_s(builds),
                "plans.collect_s": _med_s(collects),
                "plans.jobs_per_query": c["jobs"] / nq,
                "plans.tasks_per_query": c["tasks"] / nq,
                "plans.cpu_util": c["task_busy_s"] / (window * cpus),
                "plans.task_busy_s": c["task_busy_s"] / nq,
                "plans.shuffle_bytes": c["shuffle_bytes"] / nq,
                "plans.spill_bytes": c["spill_bytes"] / nq,
                "plans.input_bytes": c["input_bytes"] / nq,
            })
        return res


class DashboardRead(QueryMix):
    name = "dashboard"
    queries = DASHBOARD_QUERIES + CURATION_SAMPLE
    sf = 0.01
    clients = 2


class CorpusCuration(QueryMix):
    name = "curation"
    queries = CURATION_QUERIES
    sf = 0.001
    clients = 1


# -- CDC medallion ingest ----------------------------------------------------------

class CdcIngest:
    """Closed-loop CDC medallion ingest, one pipeline thread.

    Each cycle lands one seeded batch of ``batch_events`` envelopes in the
    landing directory, drains bronze (``process_cdc_stream`` with
    ``available_now``), runs ``jobs.run_silver`` and ``jobs.run_gold``,
    then does one serving read: a silver key through ``read_pruned``,
    checked against everything landed so far. A cycle's freshness is the
    time from its batch landing to the end of the gold refresh.

    A batch is 500 events: 2.5 s of arrivals at ``jobs.run_bronze``'s
    default 200 events/s, about one cycle on a 4-core host, so the loop
    keeps pace with that rate."""

    batch_events = 500
    warmup_cycles = 3  # the first cycles run slower (stream start, JIT, codegen)

    def setup(self, spark, root: str, seed: int) -> None:
        from pyspark.sql import types as T

        from end_to_end_data_lakehouse_pipeline_spark.streaming.generator import (
            DELETE_PCT,
            UPDATE_PCT,
        )

        self.seed = seed
        self.landing = os.path.join(root, "landing")
        self.lake = os.path.join(root, "lake")
        for d in (self.landing, self.lake):
            os.makedirs(d, exist_ok=True)
        self.gen = datagen.CdcStream(seed, UPDATE_PCT, DELETE_PCT)
        self.raw_schema = T.StructType([T.StructField("value", T.StringType(), True)])
        self.n_batches = 0

    def _cycle(self, spark, tr: Tracer, out: Outcome, stats: dict) -> float:
        """Land one batch and refresh bronze, silver and gold; returns the
        freshness."""
        from end_to_end_data_lakehouse_pipeline_spark import jobs
        from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable
        from end_to_end_data_lakehouse_pipeline_spark.streaming.bronze import process_cdc_stream

        lines = self.gen.batch(self.n_batches, self.batch_events)
        size = datagen.write_jsonl(lines, os.path.join(self.landing, f"batch-{self.n_batches:06d}.json"))
        self.n_batches += 1
        silver_path = f"{self.lake}/silver/orders"
        t0 = time.perf_counter()
        with tr.span("cdc.cycle", tr.new_trace()):
            with tr.span("streaming.bronze.drain", spark=spark) as sp:
                stream = spark.readStream.schema(self.raw_schema).json(self.landing)
                q = process_cdc_stream(
                    stream, "orders", f"{self.lake}/bronze/orders",
                    f"{self.lake}/_checkpoints/bronze_orders", available_now=True,
                )
                q.awaitTermination()
                if sp is not None:
                    sp["rows"] = sum(p.get("numInputRows", 0) for p in q.recentProgress)
            before = None
            if tr.enabled and os.path.isdir(os.path.join(silver_path, "_txn_log")):
                with tr.extra():
                    before = TransactionLogTable(spark, silver_path).snapshot()
            with tr.span("jobs.run_silver", spark=spark, new_events=len(lines)) as sp:
                _, n_bad = jobs.run_silver(spark, self.lake)
            if tr.enabled:
                with tr.extra():
                    after = TransactionLogTable(spark, silver_path).snapshot()
                    sp.update(_rewrite_stats(before, after, size))
            with tr.span("jobs.run_gold", spark=spark):
                jobs.run_gold(spark, self.lake)
        lat = time.perf_counter() - t0
        out.check("quarantine count", n_bad == self.gen.n_corrupt,
                  f"run_silver quarantined {n_bad}, planted {self.gen.n_corrupt}")
        stats["quarantined"] = n_bad
        return lat

    def _lookup(self, spark, rng: random.Random, tr: Tracer, out: Outcome) -> None:
        """One silver key through ``read_pruned``; silver must hold exactly
        the key's state in everything landed."""
        from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

        key = f"o{rng.randrange(self.gen.n_keys)}"
        silver = TransactionLogTable(spark, f"{self.lake}/silver/orders", stats_cols=("order_id",))
        with _pruned_read(tr, spark, silver, "order_id", key, key, "cdc.lookup") as df:
            rows = df.select("order_status", "amount").collect()
        got = [(r["order_status"], r["amount"]) for r in rows]
        want = self.gen.state.get(key)
        out.check("silver lookup", got == ([want] if want else []), f"key {key} got {got} want {want}")

    def run(self, spark, seconds: float, tr: Tracer, out: Outcome, min_n: int) -> Result:
        from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

        res = Result()
        stats: dict = {}
        rng = random.Random(self.seed)
        t0 = time.perf_counter()
        for _ in range(self.warmup_cycles):
            self._cycle(spark, Tracer(False), out, stats)
            self._lookup(spark, rng, Tracer(False), out)
        t_start = time.perf_counter()
        res.info["warmup_s"] = t_start - t0
        deadline, hard_stop = t_start + seconds, t_start + 2 * seconds
        # the traced run times the MERGE inside run_silver apart from the parse
        with tr.wrap(TransactionLogTable, "merge", "sources.txnlog.merge"):
            while True:
                now = time.perf_counter()
                if now >= hard_stop or (now >= deadline and len(res.latencies) >= min_n):
                    break
                try:
                    res.latencies.append(self._cycle(spark, tr, out, stats))
                except Exception as e:
                    out.fail("pipeline cycle", _err(e))
                    continue
                try:
                    self._lookup(spark, rng, tr, out)
                except Exception as e:
                    out.fail("silver lookup", _err(e))
        window = time.perf_counter() - t_start
        res.ops_per_s = self.batch_events * len(res.latencies) / window
        res.info.update({"batch_events": self.batch_events, "cycles": len(res.latencies),
                         "window_s": window, "events": self.gen.n_events})
        out.ok(len(res.latencies))
        self._check_final(spark, out)
        if tr.enabled:
            tr.resolve_counters(spark)
            drains = tr.by_name("streaming.bronze.drain")
            silvers = tr.by_name("jobs.run_silver")
            res.layers.update({
                "streaming.bronze.drain_s": _med_s(drains),
                "streaming.bronze.rows": _mean(s.get("rows", 0) for s in drains),
                "jobs.run_silver_s": _med_s(silvers),
                "jobs.run_silver.rows_read_per_new_row": _mean(
                    s["spark"]["input_records"] / max(1, s["new_events"]) for s in silvers),
                "jobs.run_silver.quarantined": stats.get("quarantined", 0),
                "jobs.run_gold_s": _med_s(tr.by_name("jobs.run_gold")),
            })
            res.layers.update(_txnlog_write_layers(tr, silvers))
            res.layers.update(_txnlog_read_layers(tr))
            res.layers.update(self._table_layers(spark, tr))
        return res

    def _table_layers(self, spark, tr: Tracer) -> dict[str, float]:
        from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

        with tr.extra():
            silver = TransactionLogTable(spark, f"{self.lake}/silver/orders")
            return {"sources.txnlog.files_live": len(silver.snapshot()),
                    "sources.txnlog.log_versions": silver.latest_version() or 0}

    def _check_final(self, spark, out: Outcome) -> None:
        """Untimed: silver equals the generator's last-write-wins state and
        gold equals its per-status aggregate."""
        from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

        try:
            silver = TransactionLogTable(spark, f"{self.lake}/silver/orders").read()
            got = {r["order_id"]: (r["order_status"], r["amount"]) for r in silver.collect()}
            want = self.gen.state
            bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
            out.check("silver state", not bad,
                      f"{len(bad)} keys differ, e.g. {bad[:3]}: got {[got.get(k) for k in bad[:3]]}"
                      f" want {[want.get(k) for k in bad[:3]]}")
            gold = TransactionLogTable(spark, f"{self.lake}/gold/status_summary").read()
            g_got = {r["order_status"]: (r["n_orders"], r["revenue"]) for r in gold.collect()}
            g_want = datagen.gold_of(want)
            ok = set(g_got) == set(g_want) and all(
                g_got[s][0] == g_want[s][0] and abs(g_got[s][1] - g_want[s][1]) <= 1e-6 * max(1.0, abs(g_want[s][1]))
                for s in g_want)
            out.check("gold state", ok, f"got {g_got} want {g_want}")
        except Exception as e:
            out.fail("final state", _err(e))


def _rewrite_stats(before: dict | None, after: dict, update_bytes: int) -> dict:
    """Files rewritten and bytes written by one commit, from snapshot diffs."""
    before = before or {}
    removed = set(before) - set(after)
    added = set(after) - set(before)
    return {
        "files_rewritten_frac": len(removed) / len(before) if before else 1.0,
        "bytes_written_per_update_byte": sum(after[n].get("bytes", 0) for n in added) / max(1, update_bytes),
    }


def _txnlog_write_layers(tr: Tracer, commits: list[dict]) -> dict[str, float]:
    """MERGE time, plus the rewrite stats that ``commits`` (the spans the
    snapshot diffs were attached to) carry."""
    commits = [s for s in commits if "files_rewritten_frac" in s]
    return {
        "sources.txnlog.merge_s": _med_s(tr.by_name("sources.txnlog.merge")),
        "sources.txnlog.files_rewritten_frac": _mean(s["files_rewritten_frac"] for s in commits),
        "sources.txnlog.bytes_written_per_update_byte": _mean(
            s["bytes_written_per_update_byte"] for s in commits),
    }


@contextmanager
def _pruned_read(tr: Tracer, spark, table, col: str, lo, hi, name: str):
    """``table.read_pruned(col, lo, hi)`` inside a span ``name``; yields the
    DataFrame so the caller's action runs in the span too. The traced run
    also times a ``snapshot()`` first and records how many files the read
    keeps."""
    trace = tr.new_trace()
    if tr.enabled:
        with tr.extra(), tr.span("sources.txnlog.snapshot", trace):
            table.snapshot()
    with tr.span(name, trace, spark=spark) as sp:
        with tr.span("sources.txnlog.read_pruned"):
            df = table.read_pruned(col, lo, hi)
        yield df
    if sp is not None:
        with tr.extra():
            sp["files_scanned"] = len(table.pruned_files(col, lo, hi))


def _txnlog_read_layers(tr: Tracer) -> dict[str, float]:
    return {
        "sources.txnlog.snapshot_s": _med_s(tr.by_name("sources.txnlog.snapshot")),
        "sources.txnlog.read_pruned_s": _med_s(tr.by_name("sources.txnlog.read_pruned")),
        "sources.txnlog.files_scanned_per_lookup": _mean(
            s["files_scanned"] for s in tr.spans if "files_scanned" in s),
    }


# -- lake reads under merges ------------------------------------------------------------

class LakeMixed:
    """One writer merging small CDC batches, two readers doing point
    lookups, 1% range scans and an occasional time-travel read, all on one
    ``TransactionLogTable``. Reads are checked after the run against the
    table's state at every version committed while they ran."""

    n_rows = 250_000
    n_files = 50
    readers = 2
    range_frac = 0.01

    def setup(self, spark, root: str, seed: int) -> None:
        from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable

        self.seed = seed
        self.root = root
        self.inputs = os.path.join(root, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        boot = datagen.lake_bootstrap(seed, self.n_rows)
        path = os.path.join(self.inputs, "bootstrap.parquet")
        pq.write_table(boot, path)
        self.base_status = boot["order_status"].to_pylist()
        self.base_amount = boot["amount"].to_numpy()
        self.table = TransactionLogTable(spark, os.path.join(root, "orders"), stats_cols=("order_id",))
        self.table.append(spark.read.parquet(path), sort_by=["order_id"], n_files=self.n_files)
        self.changes = datagen.LakeChanges(seed, self.n_rows, recent=self.n_rows // 50)
        self.history: dict[int, list[tuple[int, tuple | None]]] = {}
        self.hist_keys: list[int] = []

    # expected state --------------------------------------------------------------

    def _value(self, key: int, version: int):
        for v, val in reversed(self.history.get(key, ())):
            if v <= version:
                return val
        if key < self.n_rows:
            return (self.base_status[key], float(self.base_amount[key]))
        return None

    def _range_state(self, lo: int, hi: int, version: int) -> tuple[int, float]:
        b_lo, b_hi = max(lo, 0), min(hi, self.n_rows - 1)
        n = max(0, b_hi - b_lo + 1)
        s = float(self.base_amount[b_lo:b_hi + 1].sum()) if n else 0.0
        i, j = bisect.bisect_left(self.hist_keys, lo), bisect.bisect_right(self.hist_keys, hi)
        for k in self.hist_keys[i:j]:
            base = self._value(k, 1)
            now = self._value(k, version)
            n += (now is not None) - (base is not None)
            s += (now[1] if now else 0.0) - (base[1] if base else 0.0)
        return n, s

    def _record(self, version: int, batch) -> None:
        for k, st, am, d in zip(batch["order_id"].to_pylist(), batch["order_status"].to_pylist(),
                                batch["amount"].to_pylist(), batch["_deleted"].to_pylist()):
            if k not in self.history:
                bisect.insort(self.hist_keys, k)
            self.history.setdefault(k, []).append((version, None if d else (st, am)))

    # operations -------------------------------------------------------------------

    def _merge(self, spark, tr: Tracer, out: Outcome) -> float:
        batch = self.changes.batch()
        path = os.path.join(self.inputs, f"batch-{self.changes.n_batches:05d}.parquet")
        pq.write_table(batch, path)
        updates = spark.read.parquet(path)
        before = None
        if tr.enabled:
            with tr.extra():
                before = self.table.snapshot()
        t0 = time.perf_counter()
        with tr.span("sources.txnlog.merge", tr.new_trace(), spark=spark) as sp:
            version = self.table.merge(updates, pks=["order_id"], order_col="_event_ts")
        lat = time.perf_counter() - t0
        if tr.enabled:
            with tr.extra():
                sp.update(_rewrite_stats(before, self.table.snapshot(version), os.path.getsize(path)))
        self._record(version, batch)  # only the writer thread records
        out.ok()
        return lat

    def _read(self, spark, rng: random.Random, tr: Tracer):
        """One read; returns (latency, check record)."""
        from pyspark.sql import functions as F

        t = self.table
        hi_key = self.changes.next_key
        kind = rng.random()
        v0 = t.latest_version()
        if kind < 0.8:
            key = rng.randrange(hi_key)
            t0 = time.perf_counter()
            with _pruned_read(tr, spark, t, "order_id", key, key, "lake.lookup") as df:
                rows = df.select("order_status", "amount").collect()
            lat = time.perf_counter() - t0
            check = ("point", key, [(r["order_status"], r["amount"]) for r in rows])
        elif kind < 0.98:
            width = int(self.n_rows * self.range_frac)
            lo = rng.randrange(max(1, hi_key - width))
            hi = lo + width - 1
            t0 = time.perf_counter()
            with _pruned_read(tr, spark, t, "order_id", lo, hi, "lake.range") as df:
                r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")).collect()[0]
            lat = time.perf_counter() - t0
            check = ("range", (lo, hi), (r["n"], r["s"] or 0.0))
        else:
            version = rng.randint(1, v0)
            width = int(self.n_rows * self.range_frac)
            lo = rng.randrange(self.n_rows - width)
            hi = lo + width - 1
            t0 = time.perf_counter()
            with tr.span("lake.time_travel", tr.new_trace(), spark=spark):
                df = t.read(version=version).filter(F.col("order_id").between(lo, hi))
                r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")).collect()[0]
            lat = time.perf_counter() - t0
            return lat, (("range", (lo, hi), (r["n"], r["s"] or 0.0)), version, version)
        return lat, (check, v0, t.latest_version())

    def _verify(self, check, v0: int, v1: int) -> tuple[bool, str]:
        kind, arg, got = check
        if kind == "point":
            cands = [self._value(arg, v) for v in range(v0, v1 + 1)]
            want = [[c] if c else [] for c in cands]
            return got in want, f"key {arg} got {got}, versions {v0}-{v1} allow {want}"
        lo, hi = arg[0], arg[1]
        cands = [self._range_state(lo, hi, v) for v in range(v0, v1 + 1)]
        ok = any(got[0] == n and abs(got[1] - s) <= 1e-6 * max(1.0, abs(s)) for n, s in cands)
        return ok, f"range {arg} got {got}, versions {v0}-{v1} allow {cands}"

    def run(self, spark, seconds: float, tr: Tracer, out: Outcome, min_n: int) -> Result:
        res = Result()
        rng = random.Random(self.seed)
        for _ in range(3):  # warm-up: untimed reads and one merge
            self._read(spark, rng, Tracer(False))
        self._merge(spark, Tracer(False), out)
        merges: list[float] = []
        checks: list[tuple] = []
        lock = threading.Lock()
        stop = threading.Event()
        t_start = time.perf_counter()
        deadline, hard_stop = t_start + seconds, t_start + 2 * seconds

        def writer() -> None:
            while not stop.is_set():
                try:
                    merges.append(self._merge(spark, tr, out))
                except Exception as e:
                    out.fail("merge", _err(e))

        def reader(i: int) -> None:
            r = random.Random(self.seed * 1000 + i)
            while True:
                now = time.perf_counter()
                with lock:
                    if now >= hard_stop or (now >= deadline and len(res.latencies) >= min_n):
                        return
                try:
                    lat, chk = self._read(spark, r, tr)
                    with lock:
                        res.latencies.append(lat)
                        checks.append(chk)
                except Exception as e:
                    out.fail("read", _err(e))

        w = threading.Thread(target=writer, daemon=True)
        rs = [threading.Thread(target=reader, args=(i,), daemon=True) for i in range(self.readers)]
        w.start()
        for t in rs:
            t.start()
        for t in rs:
            t.join()
        window = time.perf_counter() - t_start
        stop.set()
        w.join()
        res.ops_per_s = len(res.latencies) / window
        res.info = {"rows": self.n_rows, "files": self.n_files, "readers": self.readers,
                    "merges": len(merges), "merge_p50_s": median(merges) if merges else None,
                    "window_s": window}
        for chk in checks:
            ok, msg = self._verify(*chk)
            out.check("read", ok, msg)
        self._check_final(spark, out)
        if tr.enabled:
            tr.resolve_counters(spark)
            with tr.extra():
                res.layers.update({
                    "sources.txnlog.files_live": len(self.table.snapshot()),
                    "sources.txnlog.log_versions": self.table.latest_version() or 0,
                })
            res.layers.update(_txnlog_read_layers(tr))
            res.layers.update(_txnlog_write_layers(tr, tr.by_name("sources.txnlog.merge")))
        return res

    def _check_final(self, spark, out: Outcome) -> None:
        try:
            v = self.table.latest_version()
            pdf = self.table.read().select("order_id", "order_status", "amount").toPandas()
            got = dict(zip(pdf["order_id"].tolist(),
                           zip(pdf["order_status"].tolist(), pdf["amount"].tolist())))
            keys = set(got) | set(range(self.n_rows)) | set(self.history)
            bad = [k for k in keys if got.get(k) != self._value(k, v)]
            out.check("final table", not bad and len(got) == len(pdf),
                      f"{len(bad)} keys differ at version {v}, e.g. {sorted(bad)[:3]}")
        except Exception as e:
            out.fail("final table", _err(e))


WORKLOADS = {
    "cdc_ingest": CdcIngest,
    "dashboard_read": DashboardRead,
    "lake_mixed": LakeMixed,
    "corpus_curation": CorpusCuration,
}
