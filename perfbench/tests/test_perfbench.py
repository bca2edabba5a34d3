"""Tests for the benchmark harness itself: percentiles, seeded input
generation, and a short smoke run of every workload on tiny inputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import harness  # noqa: E402


# -- percentiles ---------------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 0.5) == 50
    assert harness.percentile(xs, 0.75) == 75
    assert harness.percentile(xs, 1.0) == 100
    assert harness.percentile([3.0], 0.75) == 3.0
    assert harness.median([5, 1, 3]) == 3
    with pytest.raises(ValueError):
        harness.percentile([], 0.5)


# -- generators ----------------------------------------------------------------------

def test_star_schema_is_deterministic():
    a, b, c = (datagen.star_schema(s, 0.001) for s in (7, 7, 8))
    assert a.keys() == b.keys() == c.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
    assert not a["lineitem"].equals(c["lineitem"])


def _cdc(seed):
    g = datagen.CdcStream(seed, update_pct=30, delete_pct=5, corrupt_frac=0.05)
    return g, [g.batch(i, 200) for i in range(5)]


def test_cdc_stream_is_deterministic_and_folds_state():
    import json

    g1, b1 = _cdc(3)
    g2, b2 = _cdc(3)
    g3, b3 = _cdc(4)
    assert b1 == b2 and g1.state == g2.state and g1.n_corrupt == g2.n_corrupt
    assert b1 != b3
    assert g1.n_corrupt > 0 and g1.n_events == 1000
    # replay the valid envelopes by hand: last write per key wins
    state, ts = {}, []
    for line in (x for b in b1 for x in b):
        try:
            env = json.loads(line)
        except json.JSONDecodeError:
            continue
        ts.append(env["source_ts_ms"])
        img = env["before"] if env["op"] == "d" else env["after"]
        if env["op"] == "d":
            state.pop(img["order_id"], None)
        else:
            state[img["order_id"]] = (img["order_status"], img["amount"])
    assert state == g1.state
    assert len(ts) == len(set(ts)) == 1000 - g1.n_corrupt
    gold = datagen.gold_of(g1.state)
    assert sum(n for n, _ in gold.values()) == len(state)


def test_lake_inputs_are_deterministic():
    assert datagen.lake_bootstrap(5, 1000).equals(datagen.lake_bootstrap(5, 1000))
    c1, c2 = datagen.LakeChanges(5, 1000, recent=100), datagen.LakeChanges(5, 1000, recent=100)
    for _ in range(3):
        x, y = c1.batch(), c2.batch()
        assert x.equals(y)
        keys = x["order_id"].to_pylist()
        assert len(keys) == len(set(keys))
    assert c1.next_key > 1000  # inserts extend the key space
    assert not datagen.LakeChanges(6, 1000, recent=100).batch().equals(
        datagen.LakeChanges(5, 1000, recent=100).batch())


# -- smoke runs ----------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    run = harness.RunDir("tests")
    sys.path.insert(0, harness.REPO_ROOT)
    session = harness.make_session(run, "perfbench-tests", cpus=2, mem_mb=1024, trace=True)
    yield session, run
    session.stop()
    run.close()


def _smoke(spark, name: str, seconds: float = 2.0, **sizes):
    import workloads

    session, run = spark
    wl = workloads.WORKLOADS[name]()
    for k, v in sizes.items():
        setattr(wl, k, v)
    wl.setup(session, run.path(name), seed=11)
    tr, out = harness.Tracer(True), harness.Outcome()
    res = wl.run(session, seconds, tr, out, min_n=4)
    assert out.failed == 0, out.errors
    assert out.attempted > 0 and len(res.latencies) >= 4 and res.ops_per_s > 0
    assert tr.spans and tr.overhead_s > 0
    return res, tr


def test_dashboard_mix_covers_the_curation_layers():
    sys.path.insert(0, harness.REPO_ROOT)
    import workloads
    from end_to_end_data_lakehouse_pipeline_spark import plans

    registered, oracles = plans.queries(), plans.oracles()
    assert set(workloads.DashboardRead.queries) <= set(oracles)
    layers = {registered[n].__module__.rsplit(".", 1)[1] for n in workloads.CURATION_SAMPLE}
    assert layers == {"text", "similarity", "dedup"}


def test_smoke_dashboard_read(spark):
    res, tr = _smoke(spark, "dashboard_read", sf=0.001, queries=("rollup_sales", "tpch_q18"))
    assert res.layers["plans.jobs_per_query"] > 0 and res.layers["plans.build_s"] > 0


def test_smoke_cdc_ingest(spark):
    res, tr = _smoke(spark, "cdc_ingest", seconds=10.0, batch_events=50, warmup_cycles=1)
    assert res.layers["streaming.bronze.rows"] > 0
    assert res.layers["sources.txnlog.log_versions"] >= 2
    # the MERGE inside run_silver is timed on its own, and silver is read back
    assert 0 < res.layers["sources.txnlog.merge_s"] < res.layers["jobs.run_silver_s"]
    assert res.layers["sources.txnlog.read_pruned_s"] > 0
    assert res.layers["sources.txnlog.files_scanned_per_lookup"] >= 1
    from end_to_end_data_lakehouse_pipeline_spark.sources.txnlog import TransactionLogTable
    assert not hasattr(TransactionLogTable.merge, "__wrapped__")  # unwrapped after the run


def test_smoke_lake_mixed(spark):
    res, tr = _smoke(spark, "lake_mixed", n_rows=5000, n_files=5)
    assert 0 < res.layers["sources.txnlog.files_scanned_per_lookup"] <= res.layers["sources.txnlog.files_live"]


def test_smoke_corpus_curation(spark):
    _smoke(spark, "corpus_curation", queries=("tfidf_top_terms", "knn_lsh_bucketed"))


def test_run_fails_without_the_engine(tmp_path):
    """Copied alone, the benchmark exits non-zero and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
