"""Keeps BENCHMARK.json and the runner in step, and checks that the
output checks reject wrong answers.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os
import types

import numpy as np
import pandas as pd

from perfbench import datagen, eventlog, host, oracle, run
from perfbench.workloads import WORKLOADS

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")


def test_benchmark_json_matches_runner():
    with open(SPEC) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    layer = {f"{op}.{k}": u for op in run.OPS for k, u in eventlog.FIELDS.items()}
    layer.update(run.COUNTS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer


def _search_result(P, Q, k):
    ids = oracle.brute_knn(P, Q, k)
    d = ((P[ids] - Q[:, None, :]) ** 2).sum(-1)
    return pd.DataFrame({
        "query_id": np.repeat(np.arange(len(Q)), k), "vec_id": ids.ravel(),
        "dist": d.ravel(), "rank": np.tile(np.arange(1, k + 1), len(Q)),
    })


def test_check_search_accepts_exact_and_rejects_wrong_distance():
    rng = np.random.default_rng(0)
    P, Q = rng.normal(size=(300, 8)).astype(np.float32), rng.normal(size=(20, 8)).astype(np.float32)
    res = _search_result(P, Q, 5)
    problems, ids = oracle.check_search(res, P, Q, 5)
    assert problems == [] and oracle.recall_at_k(ids, oracle.brute_knn(P, Q, 5)) == 1.0
    bad = res.copy()
    bad.loc[3, "dist"] *= 1.5
    assert oracle.check_search(bad, P, Q, 5)[0]
    assert oracle.check_search(res.iloc[1:], P, Q, 5)[0]  # a query short of k rows


def test_near_dup_check_recomputes_jaccard():
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "x y z w v u"}
    j = round(oracle.jaccard(oracle.shingles(texts[1]), oracle.shingles(texts[2])), 4)
    ok = pd.DataFrame({"a_id": [1], "b_id": [2], "jaccard": [j]})
    assert oracle.check_near_dups(ok, texts, 0.5) == []
    wrong = pd.DataFrame({"a_id": [1], "b_id": [3], "jaccard": [0.9]})
    assert oracle.check_near_dups(wrong, texts, 0.5)


def test_incremental_ground_truth_matches_set_oracle():
    rng = np.random.default_rng(3)
    ids, texts, planted = datagen.corpus(rng, 400)
    assert len(planted) == 40
    b_ids, b_texts, keep = datagen.new_batch(rng, texts, 200, id_base=10_000)
    assert keep == oracle.incremental_keep(b_ids.tolist(), b_texts, texts)
    assert len(keep) == 200 - 60 - 10


def _bench(tmp_path):
    spark = types.SimpleNamespace(sparkContext=None)
    return run.Bench(spark, host.RssSampler(), "index-build", 0, 0.0, False, str(tmp_path))


def test_failures_are_counted_not_raised(tmp_path):
    bench = _bench(tmp_path)

    def boom():
        raise RuntimeError("program failed")

    assert bench.loop("op.warm", 0.0, boom, lambda out: []) == []
    calls = []

    def fails_when_timed():
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("program failed")

    assert bench.loop("op.timed", 0.0, fails_when_timed, lambda out: []) == []
    assert bench.loop("op.wrong", 0.0, lambda: 1, lambda out: ["wrong answer"]) == []
    with bench.guarded("probe"):
        boom()
    # one failed warm-up, then run.MIN_CALLS failed calls for each of two
    # loops, then the guarded step
    n = 1 + 2 * run.MIN_CALLS + 1
    assert (bench.attempted, bench.failed) == (n, n)
    assert len(bench.loop("op.ok", 0.0, lambda: 1, lambda out: [])) == run.MIN_CALLS
    assert (bench.attempted, bench.failed) == (n + run.MIN_CALLS, n)
