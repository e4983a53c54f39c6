"""The partition-level stitch against its spec, ``stitch_core.flatten``,
per relation, with Arrow batches of five rows: most relations span a
batch boundary and go through the carry path."""

import numpy as np
import pytest

from osmptparser_spark.operators import stitch_core as sc
from osmptparser_spark.operators.stitch import stitch_node_rows_partitioned

STEP = 2e-4  # grid step, ~22 m: the 150 m gap bridges ~6 steps
BATCH_ROWS = "5"


def _coords(node_id):
    return (node_id // 100) * STEP, (node_id % 100) * STEP


def _relations():
    """rel_id -> member ways (node-id lists) in member order."""
    rels = {
        1: [[1, 2, 3], [3, 4, 5]],  # chain
        2: [[1, 2, 3], [1, 2, 3]],  # duplicate way
        3: [[1, 2, 3], [3, 2, 1], [3, 4]],  # duplicate, reversed
        4: [[5, 6, 5], [5, 4, 3]],  # palindromic way
        5: [[7], [7, 8, 9], [9]],  # single-node ways
        6: [[10, 11, 111, 110, 10]],  # closed ring, one way
        7: [[10, 11, 111], [111, 110, 10]],  # ring of two ways
        8: [[20, 21, 22], [24, 25, 26]],  # ~44 m gap: joined
        9: [[30, 31], [90, 91]],  # ~1.3 km gap: broken
        10: [[42]],  # lone single node
        11: [[60, 61, 62, 61, 60]],  # palindromic, ring-like by id
    }
    rng = np.random.default_rng(11)
    for rel in range(12, 48):  # random chains with flips, gaps, repeats
        ways, at = [], int(rng.integers(0, 50))
        for _ in range(int(rng.integers(1, 7))):
            kind = rng.random()
            if ways and kind < 0.15:
                ways.append(list(ways[-1]))
                continue
            if kind < 0.25:
                ways.append([at])
                continue
            n = int(rng.integers(2, 6))
            at += int(rng.integers(0, 9)) if kind < 0.9 else 0
            way = [100 * int(rng.integers(0, 3)) + at + i for i in range(n)]
            at = way[-1] % 100
            ways.append(way[::-1] if rng.random() < 0.4 else way)
        rels[rel] = ways
    return rels


@pytest.fixture(scope="module")
def node_rows(spark):
    rows = [
        (rel, wp, npos, nid, *_coords(nid))
        for rel, ways in _relations().items()
        for wp, way in enumerate(ways)
        for npos, nid in enumerate(way)
    ]
    rows.reverse()  # the stitch must not rely on input order
    return spark.createDataFrame(
        rows,
        "rel_id BIGINT, way_pos INT, node_pos INT, node_id BIGINT, "
        "lat DOUBLE, lon DOUBLE",
    )


@pytest.mark.parametrize("closed", [False, True])
def test_partitioned_stitch_matches_flatten_across_batches(spark, node_rows, closed):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, BATCH_ROWS)
    try:
        out = stitch_node_rows_partitioned(node_rows, 150.0, closed).collect()
    finally:
        spark.conf.set(key, before)
    got = {
        r.rel_id: (
            [[(p.lon, p.lat) for p in seg] for seg in r.geometry],
            r.node_seq,
            r.status_code,
            r.status_detail,
        )
        for r in out
    }
    want = {}
    for rel, ways in _relations().items():
        geom, (code, detail) = sc.flatten(
            [[(nid, *_coords(nid)) for nid in way] for way in ways], 150.0, closed
        )
        want[rel] = (
            [[(n[2], n[1]) for n in seg] for seg in geom],
            [[n[0] for n in seg] for seg in geom],
            code,
            detail,
        )
    assert len(out) == len(want)
    assert got == want
    # the cases cover every status the cascade emits
    assert {v[2] for v in want.values()} >= {0, 102, 501}
