"""Tests of the benchmark itself: seeded inputs are reproducible, and a
corrupted result is counted as a failed op.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import pytest

from perfbench import gen
from perfbench.run import Run, _build_session, stop_spark
from perfbench.spans import NullTracer
from perfbench.workloads import EtlIncremental, LlmCuration, normalize


def _inputs(seed):
    model = gen.LedgerModel(seed, 2_000)
    batches = [model.next_batch(5, 100, 0.075, 0.01) for _ in range(3)]
    orders = gen.pass_orders(seed, ["a", "b", "c", "d"])
    lookups = gen.lookup_args(seed, 100, 1_000, 50)
    return {
        "documents": gen.documents(seed, 200).to_pylist(),
        "embeddings": gen.embeddings(seed, 50).to_pylist(),
        "ledger": model.expected_state(),
        "pages": [b.pages for b in batches],
        "orders_table": gen.orders(seed, 200, 20).to_pylist(),
        "lookups": [next(lookups) for _ in range(5)],
        "orders": [next(orders) for _ in range(3)],
    }


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_different_inputs():
    a, b = _inputs(7), _inputs(8)
    for key in a:
        assert a[key] != b[key], key


def test_batch_ground_truth_matches_its_pages():
    model = gen.LedgerModel(3, 2_000)
    before = dict(model.rows)
    batch = model.next_batch(5, 100, 0.075, 0.01)
    rows = [line.split("|") for body in batch.pages.values() for line in body.splitlines()]
    assert len(rows) == batch.n_rows == 500
    assert len({k for k, _ in rows}) == 500
    changed = sum(before.get(k) != p for k, p in rows)
    assert changed == batch.n_changed
    assert sum(k not in before for k, _ in rows) == batch.n_new == 5
    assert 0.05 < changed / batch.n_rows < 0.12


class _Corrupting:
    """A workload whose second op returns a corrupted result."""

    name = "corrupting"
    kinds = ("op",)
    metric_names = {"op": "op_p50_s"}

    def __init__(self):
        self.tr = NullTracer()
        self.n = 0

    def op(self):
        self.n += 1
        rows = [(1, "a"), (2, "b")] if self.n != 2 else [(1, "a"), (2, "x")]
        return {"op": 0.001}, lambda: normalize(rows, ["id", "v"]) == [(1, "a"), (2, "b")]

    def final_check(self):
        return True


def test_corrupted_result_counts_as_failed(tmp_path):
    run = Run(_Corrupting, seed=0, seconds=0, work=tmp_path)
    run.wl = _Corrupting()
    run.measure()
    assert (run.attempted, run.failed) == (3, 1)
    assert not run.correct


def test_oracle_compare_rejects_corrupted_rows(tmp_path):
    wl = LlmCuration(None, str(tmp_path), 1)
    cols = ["doc_id", "n_tokens"]
    rows = [(0, 12), (1, 40), (2, 7)]
    wl.oracle = {"q23_text_metrics": (sorted(cols), normalize(rows, cols))}
    assert wl.matches("q23_text_metrics", cols, list(reversed(rows)))
    assert not wl.matches("q23_text_metrics", cols, [(0, 12), (1, 41), (2, 7)])
    assert not wl.matches("q23_text_metrics", cols, rows[:2])
    assert not wl.matches("q23_text_metrics", ["doc_id", "n_tok"], rows)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    (work / "tmp").mkdir()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {"PYTHONPATH": root, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    session = _build_session(work)
    yield session
    stop_spark()
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


class _SmallEtl(EtlIncremental):
    LEDGER_KEYS = 2_000
    ORDERS, CUSTOMERS, ORDER_FILES, WINDOW = 2_000, 200, 4, 100


def test_etl_batch_passes_then_fails_on_corrupted_ledger(spark, tmp_path):
    wl = _SmallEtl(spark, str(tmp_path), 5)
    wl.stage()
    _lat, check = wl.op()
    assert check()
    # an extra row with an out-of-domain sector must fail the next op
    bad = wl.ledger.read(spark).limit(1).selectExpr(
        "'k9999999' AS lookup_key", "payload", "row_hash", "'bogus' AS sector"
    )
    wl.ledger.commit(wl.ledger.read(spark).unionByName(bad))
    _lat, check = wl.op()
    assert not check()
    assert not wl.final_check()
