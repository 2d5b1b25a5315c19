"""The generator is deterministic: one seed, byte-identical inputs."""

import hashlib
import json
import os

import pytest

from perfbench import gen


def _digest(root):
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.GENERATORS[workload](5, a)
    gen.GENERATORS[workload](5, b)
    gen.GENERATORS[workload](6, c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_serve_schedule_has_the_fixed_mix_per_block(tmp_path):
    sched = gen.serve(3, str(tmp_path), n_blocks=4)
    block = sched["block"]
    for i in range(0, len(sched["ops"]), block):
        kinds = sorted(op["kind"] for op in sched["ops"][i:i + block])
        assert kinds == sorted(gen.SERVE_BLOCK)
    with open(tmp_path / "schedule.json") as f:
        assert json.load(f) == sched


def test_ingest_batches_repeat_keys_and_add_new_ones(tmp_path):
    import pyarrow.parquet as pq

    sched = gen.ingest(4, str(tmp_path), n_rows=1000, batch_rows=100, n_batches=2)
    t = pq.read_table(tmp_path / sched["batches"][0]).to_pydict()
    assert len(t["k"]) == 100
    assert len(set(t["k"])) < 100                   # repeats inside the batch
    assert any(k % 2 for k in t["k"])               # new (odd) keys
    assert len(set(t["seq"])) == 100                # a total write order


def test_python_twin_of_the_derived_expression():
    import duckdb

    for v in (0, 7, gen.V_MAX - 1):
        sql = f"SELECT {gen.DERIVED_EXPR} FROM (SELECT {v} AS v)"
        assert duckdb.sql(sql).fetchone()[0] == gen.derived(v)
