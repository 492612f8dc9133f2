"""Self-test of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark session.
``test_printed_metrics_match_benchmark_json`` runs the benchmark three
times (four to six minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import datagen  # noqa: E402
from check import Oracle, digest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


class _Ctx:
    def __init__(self, tmp, seed):
        self.seed = seed
        self.data_clean = str(tmp)
        self.clean = datagen.write_clean(self.data_clean, seed)
        self.oracle = Oracle(self.data_clean, datagen.TABLES)
        self.spark = None


def test_inputs_repeat_per_seed():
    a, b = datagen.clean_tables(5), datagen.clean_tables(5)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not datagen.clean_tables(6)["lineitem"].equals(a["lineitem"])


def test_dirty_copy_cleans_back_to_clean():
    """Drop NULL keys, keep the first row per key under the dedupe order,
    fill the defaults: the pipeline's T1 semantics, in pandas."""
    clean = datagen.clean_tables(3)
    for name, (pk, loser, defaults) in datagen._DIRT.items():
        dirty = datagen.dirty_table(name, clean[name], 3).to_pandas()
        assert len(dirty) > len(clean[name])
        assert not dirty.duplicated().any(), "sanity_check rejects full-row duplicates"
        cols = [c for c in dirty.columns if c not in pk]
        kept = (
            dirty.dropna(subset=pk)
            .sort_values(pk + cols, na_position="first")
            .drop_duplicates(pk)
            .fillna(defaults)
        )
        want = clean[name].to_pandas()
        key = lambda df: df.sort_values(pk).reset_index(drop=True)  # noqa: E731
        got = key(kept.astype(want.dtypes.to_dict()))
        assert got.equals(key(want)), name


def test_digest_ignores_row_order_and_column_order():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    assert digest(["x", "y", "z"], rows) == digest(["x", "y", "z"], rows[::-1])
    swapped = [(r[1], r[0], r[2]) for r in rows]
    assert digest(["x", "y", "z"], rows) == digest(["y", "x", "z"], swapped)
    assert digest(["x", "y", "z"], rows) != digest(["x", "y", "z"], rows[:1])


def test_two_seeds_give_different_orders_same_pool_shape(tmp_path):
    import workloads as W

    orders = []
    for seed in (1, 2):
        q = W.QueryMix(_Ctx(tmp_path / str(seed), seed))
        q.oracles()
        orders.append([str(q.pool[k]) for k in q.order()])
        kinds = sorted(k for k, _ in q.pool)
        assert kinds.count("analytic") == len(W.ANALYTIC)
        assert kinds.count("lake_range") == W.LAKE_RANGE_N
        assert kinds.count("lake_keys") == W.LAKE_KEYS_N
    assert orders[0] != orders[1]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "query_mix", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_printed_metrics_match_benchmark_json():
    """Names printed equal BENCHMARK.json's; three seeds give the same
    (all-passing) oracle verdicts; two traced runs start the same number
    of Spark jobs in every layer."""
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    res = _result(_run("--workload", "etl_batch", "--seed", "1",
                       "--seconds", "1", "--trace", "0"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == e2e
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert all(v["value"] > 0 for v in res["metrics"].values())
    jobs = []
    for seed in (2, 3):
        res = _result(_run("--workload", "etl_batch", "--seed", str(seed),
                           "--seconds", "1", "--trace", "1"))
        assert {k: v["unit"] for k, v in res["metrics"].items()} == layer
        assert res["correct"]
        jobs.append({k: v["value"] for k, v in res["metrics"].items() if "jobs" in k})
    assert jobs[0] == jobs[1]
    assert jobs[0]["pipeline.jobs_per_pass"] > 0
