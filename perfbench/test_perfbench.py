"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The first tests are pure numpy; the rest launch the benchmark itself
(short runs, about a minute each) from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus as cp  # noqa: E402
import workloads as wl  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, seed: int, trace: int, cwd: str = ROOT,
          seconds: int = 6):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def test_same_seed_same_inputs():
    a, b, c = wl.Inputs(7), wl.Inputs(7), wl.Inputs(8)
    assert a.digest() == b.digest() != c.digest()
    assert a.definitions() == b.definitions()


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_mix_is_seeded_and_interleaved(workload):
    n = 3 * len(wl.ROUNDS[workload])

    def sequence(seed):
        mix = wl.Mix(seed, wl.Oracle(wl.Inputs(seed)), workload)
        ops = mix.rounds()
        return [(op, mix.request(op)[1]) for op in (next(ops) for _ in range(n))]

    first, other = sequence(3), sequence(4)
    assert first == sequence(3)
    # the op order is the same for every seed, only parameters differ
    assert [op for op, _ in first] == [op for op, _ in other]
    assert first != other
    # every round holds every op type
    per = len(wl.ROUNDS[workload])
    for k in range(0, n, per):
        assert {op for op, _ in first[k:k + per]} == set(wl.OPS)


def test_ingest_round_is_write_heavy():
    rnd = wl.ROUNDS["ingest"]
    assert rnd.count("post") == 4 * rnd.count("stats")
    assert rnd[:5] == ("post",) * 4 + ("stats",)


def test_same_seed_same_corpus():
    a, b, c = cp.Corpus(7), cp.Corpus(7), cp.Corpus(8)
    assert a.digest() == b.digest() != c.digest()
    assert a.near_pairs == b.near_pairs and a.query_target == b.query_target
    # the planted pairs lie above the LSH threshold, so the pair count
    # the pipeline must find is known from the seed alone
    assert len(a.pair_jaccard) == cp.NEAR_PAIRS
    assert min(a.pair_jaccard.values()) >= cp.THRESHOLD


def test_oracle_tracks_last_write():
    inputs = wl.Inputs(1)
    oracle = wl.Oracle(inputs)
    before = oracle.n_points("gauge")
    cells = range(wl.OPEN_CELLS - wl.BODY_CELLS, wl.OPEN_CELLS)
    values = np.full((wl.N_SERIES, wl.BODY_CELLS), 2.5)
    oracle.post("gauge", cells, values)
    ts, vals = oracle.points(0, wl.T1, wl.NOW)
    assert vals[-1] == 2.5 and ts[-1] == wl.NOW - wl.STEP_MS
    assert oracle.n_points("gauge") == before + wl.N_SERIES * wl.BODY_CELLS
    oracle.post("counter", cells, values.astype(int))
    assert oracle.n_points("counter") == wl.N_SERIES * wl.BODY_CELLS
    assert oracle.n_points("gauge") == before + wl.N_SERIES * wl.BODY_CELLS


def test_spec_matches_harness():
    import worker

    assert [w["name"] for w in SPEC["workloads"]] == list(wl.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == worker.END_TO_END
    assert [m["name"] for m in SPEC["per_layer"]] == worker.per_layer_names()


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    code, lines = bench(workload, 5, 0)
    assert code == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    code, lines = bench(workload, 5, 1)
    assert code == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for op in wl.OPS:  # every op ran traced and reached Spark
        assert m[f"{op}.spark.jobs"] >= 1, op
        assert m[f"{op}.spark.action_ms"] > 0, op
    assert m["tagq.tags.compile_ms"] > 0
    assert m["post.wire.parse_ms"] > 0 and m["post.store.write_ms"] > 0
    assert m["maintenance.slices"] >= 1
    assert m["pipelines.pairs"] == cp.NEAR_PAIRS
    for stage in ("exact", "lsh", "clusters", "bm25"):
        assert m[f"pipelines.{stage}_ms"] > 0, stage
    routed = workload == "dashboard"
    assert (m["service.routed_ratio"] == 1.0) if routed else \
        (m["service.routed_ratio"] == 0.0)


def test_same_seed_same_exact_counts():
    runs = []
    for _ in range(2):
        code, lines = bench("ingest", 9, 0)
        assert code == 0, lines[-5:]
        diag = json.loads(lines[-2])["diagnostics"]
        result = json.loads(lines[-1])
        runs.append((diag["input_digest"],
                     result["metrics"]["bytes_per_point"]["value"]))
    assert runs[0] == runs[1]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, lines = bench("dashboard", 1, 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
