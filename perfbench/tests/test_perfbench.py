"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The seeded inputs, batches and operation order repeat for a seed and
change with it; a smoke run of every workload at scale 0.001 prints every
metric ``BENCHMARK.json`` names, with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tables(path: str) -> dict:
    return {
        name[: -len(".parquet")]: pq.read_table(os.path.join(path, name))
        for name in sorted(os.listdir(path))
    }


def test_same_seed_same_inputs(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.generate(str(tmp_path / name), seed, 0.001)
    a, b, c = (_tables(str(tmp_path / n)) for n in "abc")
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    changed = [t for t in a if not a[t].equals(c[t])]
    # region/nation are fixed dimension tables; everything else is drawn
    assert set(changed) == set(a) - {"region", "nation"}


def _orders(seed: int, passes: int = 3) -> list[list[str]]:
    ops = [workloads.Op(f"op{i}", "query", None) for i in range(12)]
    wl = run.Workload(None, None, ops)
    return [
        [op.name for op, _ in wl.steps(np.random.default_rng([seed, p]))]
        for p in range(passes)
    ]


def test_same_seed_same_operation_order():
    assert _orders(3) == _orders(3)
    assert _orders(3) != _orders(4)
    # passes of one run differ from each other too
    first = _orders(3)
    assert first[0] != first[1]


def _batches(seed: int) -> list[dict]:
    return workloads.mutation_plan(np.random.default_rng([seed, 1]), 15_000, 1_500)


def test_same_seed_same_mutation_batches():
    assert _batches(7) == _batches(7)
    assert _batches(7) != _batches(8)
    kinds = [s["op"] for s in _batches(7)]
    assert kinds[0] == "create" and kinds[-2:] == ["optimize", "full_read"]
    assert kinds.count("merge") == workloads.MERGES
    assert kinds.count("point_read") == workloads.POINT_READS


def test_same_seed_same_index_queries():
    def plan(seed):
        return workloads.index_plan(np.random.default_rng([seed, 1]), 500)

    assert plan(7) == plan(7)
    assert plan(7) != plan(8)
    assert [s["op"] for s in plan(7)] == ["ivf_build", "ann_query"]
    assert len(set(plan(7)[1]["ids"])) == workloads.ANN_QUERIES


def test_chain_keeps_its_order_among_shuffled_ops():
    class Chained(run.Workload):
        def chain(self, rng):
            return [(workloads.Op(f"c{i}", "write", None), {}) for i in range(4)]

    ops = [workloads.Op(f"op{i}", "query", None) for i in range(6)]
    for seed in range(5):
        names = [op.name for op, _ in Chained(None, None, ops).steps(np.random.default_rng(seed))]
        assert sorted(names) == sorted([f"op{i}" for i in range(6)] + [f"c{i}" for i in range(4)])
        assert [n for n in names if n[0] == "c"] == ["c0", "c1", "c2", "c3"]


def test_ann_recall_against_brute_force():
    from checks import ann_recall

    vecs = np.random.default_rng(0).standard_normal((50, 8))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = []
    for q in (3, 9):
        sims = unit @ unit[q]
        sims[q] = -np.inf
        rows += [(q, int(n), round(float(sims[n]), 4)) for n in np.argsort(-sims)[:5]]
    out = workloads.Output(["query_id", "neighbor_id", "sim"], rows)
    assert ann_recall(vecs, [3, 9], out, 5) == (None, 1.0)
    wrong = workloads.Output(out.cols, [(q, n, s + 0.01) for q, n, s in rows])
    assert ann_recall(vecs, [3, 9], wrong, 5)[0] is not None


def test_hd_median():
    assert harness.hd_median([3.0]) == 3.0
    assert abs(harness.hd_median([1.0, 2.0]) - 1.5) < 1e-9
    assert abs(harness.hd_median([1.0, 2.0, 3.0, 4.0, 5.0]) - 3.0) < 1e-9
    # weighs every order statistic: moving an outer value moves the estimate
    assert harness.hd_median([1.0, 2.0, 3.0, 4.0, 9.0]) > 3.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert harness.tail([1.0] * 19)[0] == 50.0
    pct, value = harness.tail([float(i) for i in range(1, 101)])
    assert pct == 90.0 and value == 90.0
    assert harness.tail([float(i) for i in range(1, 41)]) == (75.0, 30.0)


def test_benchmark_json_names_what_the_run_emits():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric(workload):
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result = _smoke(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    subprocess.run(["cp", "-r", BENCH, str(tmp_path / "perfbench")], check=True)
    subprocess.run(["cp", os.path.join(ROOT, "BENCHMARK.json"), str(tmp_path)], check=True)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
