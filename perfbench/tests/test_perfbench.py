"""Tests of the benchmark itself: every output check rejects a wrong
answer, and a smoke run of each workload emits every metric that
BENCHMARK.json names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402


@pytest.fixture(scope="module")
def routes():
    from osmptparser_spark.sources.synth import synth_geo_entities

    entities = synth_geo_entities(n_routes=12, seed=3)
    return entities, checks.expected_routes(entities)


def _route_table(entities, mutate=None):
    from osmptparser_spark.operators import stitch_core

    nodes, ways, relations = entities
    pos = {n["id"]: (n["id"], n["lat"], n["lon"]) for n in nodes}
    refs = {w["id"]: w["refs"] for w in ways}
    rows = []
    for r in relations:
        geom, (status, _) = stitch_core.flatten(
            [[pos[n] for n in refs[w]] for w in r["way_refs"]], checks.GAP_M, False
        )
        rows.append(
            {
                "id": r["id"],
                "status_code": status,
                "node_seq": [[n[0] for n in seg] for seg in geom],
                "stops": [{"id": s} for s in r["stop_refs"]],
            }
        )
    if mutate:
        mutate(rows)
    return pa.Table.from_pylist(rows)


def test_routes_check_accepts_reference(routes):
    entities, expected = routes
    assert checks.check_routes(_route_table(entities), expected) == []


@pytest.mark.parametrize(
    "mutate",
    [
        lambda rows: rows[0].update(status_code=rows[0]["status_code"] + 1),
        lambda rows: rows[1]["node_seq"][0].reverse(),
        lambda rows: rows[2]["stops"].pop(),
    ],
    ids=["status", "node_seq", "stops"],
)
def test_routes_check_rejects_wrong_output(routes, mutate):
    entities, expected = routes
    assert checks.check_routes(_route_table(entities, mutate), expected)


def test_routes_check_rejects_wrong_expected(routes):
    entities, expected = routes
    wrong = dict(expected, status={**expected["status"], 0: expected["status"][0] + 1})
    assert checks.check_routes(_route_table(entities), wrong)


@pytest.fixture(scope="module")
def corpus():
    docs, origin = inputs.documents(60, seed=5)
    assert origin, "the corpus plants no near-duplicates"
    return docs, origin


def _true_clusters(docs, threshold=0.5):
    ids = [int(i) for i in docs["doc_id"]]
    sh = {i: checks.shingles(t) for i, t in zip(ids, docs["text"])}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in ids:
        for b in ids:
            if a < b and checks.jaccard(sh[a], sh[b]) >= threshold:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    return [(i, find(i)) for i in ids]


def test_cluster_check_accepts_exact_clusters(corpus):
    docs, origin = corpus
    assert checks.check_clusters(_true_clusters(docs), docs, origin) == []


def test_cluster_check_rejects_split_variant(corpus):
    docs, origin = corpus
    variant = next(iter(origin))
    rows = [(d, d if d == variant else c) for d, c in _true_clusters(docs)]
    assert checks.check_clusters(rows, docs, origin)


def test_cluster_check_rejects_wrong_expected_origin(corpus):
    docs, origin = corpus
    rows = _true_clusters(docs)
    comp = dict(rows)
    variant = next(iter(origin))
    other = next(d for d, c in rows if c != comp[variant])
    assert checks.check_clusters(rows, docs, {**origin, variant: other})


def test_cluster_check_rejects_unrelated_merge(corpus):
    docs, origin = corpus
    rows = [(d, 0) for d, _ in _true_clusters(docs)]
    assert checks.check_clusters(rows, docs, origin)


def test_pair_check(corpus):
    docs, origin = corpus
    text = dict(zip(docs["doc_id"], docs["text"]))
    v, o = next(iter(origin.items()))
    a, b = checks.shingles(text[o]), checks.shingles(text[v])
    good = (o, v, len(a & b), len(a | b))
    assert checks.check_pairs([good], docs) == []
    assert checks.check_pairs([good[:2] + (good[2] - 1, good[3])], docs)
    assert checks.check_pairs([good], docs, threshold=1.0)


def test_components_check():
    edges = [(1, 2), (2, 3), (7, 5)]
    good = {1: 1, 2: 1, 3: 1, 5: 5, 7: 5}
    assert checks.check_components(good, edges) == []
    assert checks.check_components({**good, 3: 3}, edges)
    assert checks.check_components({**good, 7: 7}, edges)
    assert checks.check_components({k: v for k, v in good.items() if k != 2}, edges)
    assert checks.check_components({**good, 9: 9}, edges)


def test_ring_knn_check():
    rng = np.random.default_rng(0)
    q_lat, q_lon = rng.uniform(0, 0.1, 20), rng.uniform(0, 0.1, 20)
    s_lat, s_lon = rng.uniform(0, 0.1, 50), rng.uniform(0, 0.1, 50)
    true_m = dict(enumerate(checks.nearest_m(q_lat, q_lon, s_lat, s_lon)))
    covered = dict.fromkeys(true_m, 1e9)
    assert checks.check_ring_knn(dict(true_m), true_m, covered) == []
    assert checks.check_ring_knn({**true_m, 0: true_m[0] + 1.0}, true_m, covered)
    assert checks.check_ring_knn({**true_m, 0: true_m[0] - 1.0}, true_m, covered)
    missing = {k: v for k, v in true_m.items() if k}
    assert checks.check_ring_knn(missing, true_m, covered)
    assert checks.check_ring_knn(missing, true_m, {**covered, 0: 0.0}) == []


def test_cell_check():
    assert checks.check_cells((3, 4), (3, 4)) == []
    assert checks.check_cells((3, 4), (3, 5))


def test_inputs_are_seeded():
    a, _ = inputs.documents(30, seed=7)
    b, _ = inputs.documents(30, seed=7)
    c, _ = inputs.documents(30, seed=8)
    assert a.equals(b) and not a.equals(c)
    ids = np.arange(1000)
    assert (inputs.id_hash(ids, 7) == inputs.id_hash(ids, 7)).all()
    assert (inputs.id_hash(ids, 7) != inputs.id_hash(ids, 8)).any()


def test_id_hash_matches_spark_twin():
    from osmptparser_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("perfbench-test", master="local[1]", shuffle_partitions=1)
    ids = [0, 1, 97, 10_000_123, 100_000_399, 2**31 - 1]
    for seed in (0, 1, 1008):
        got = [
            r[0]
            for r in spark.createDataFrame([(i,) for i in ids], "id BIGINT")
            .select(inputs.id_hash_col(F.col("id"), seed))
            .collect()
        ]
        assert got == inputs.id_hash(ids, seed).tolist()


@pytest.fixture(scope="module")
def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "2", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["routes", "tiles", "dedup"])
def test_smoke_emits_every_metric(benchmark_spec, workload, trace):
    assert [w["name"] for w in benchmark_spec["workloads"]] == ["routes", "tiles"]
    out = _smoke(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and 0 <= out["failed"] <= out["attempted"]
    assert out["correct"] == (out["failed"] == 0)
    spec = benchmark_spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if workload != "dedup":  # dedup may miss a planted pair; see README.md
        assert out["correct"], f"{workload} checks failed in the smoke run"
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
