"""Output checks. Expected values are computed here without Spark, from
the generated inputs, and every check returns a list of problems (empty
when the output is right)."""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np

GAP_M = 150.0
EARTH_RADIUS_M = 6_371_000.0


def seq_digest(rows) -> str:
    """sha256 over (id, status, node_seq) sorted by id."""
    h = hashlib.sha256()
    for rid, status, seq in sorted(rows):
        h.update(repr((int(rid), int(status), [list(map(int, s)) for s in seq])).encode())
    return h.hexdigest()


def expected_routes(entities) -> dict:
    """Reference route output from the pure-Python stitch core:
    status histogram, node_seq digest, and stop ids per relation."""
    from osmptparser_spark.operators import stitch_core

    nodes, ways, relations = entities
    pos = {n["id"]: (n["id"], n["lat"], n["lon"]) for n in nodes}
    refs = {w["id"]: w["refs"] for w in ways}
    rows, stops = [], {}
    for r in relations:
        # the synthetic city has no dangling refs, so every member hydrates
        members = [[pos[n] for n in refs[w]] for w in r["way_refs"]]
        geom, (status, _) = stitch_core.flatten(members, GAP_M, closed=False)
        rows.append((r["id"], status, [[n[0] for n in seg] for seg in geom]))
        stops[r["id"]] = list(r["stop_refs"])
    return {
        "status": dict(Counter(status for _, status, _ in rows)),
        "digest": seq_digest(rows),
        "stops": stops,
    }


def check_routes(table, expected: dict) -> list[str]:
    """``table``: the job's Arrow output (id, status_code, node_seq, stops)."""
    got = table.select(["id", "status_code", "node_seq"]).to_pylist()
    rows = [(r["id"], r["status_code"], r["node_seq"]) for r in got]
    problems = []
    status = dict(Counter(s for _, s, _ in rows))
    if status != expected["status"]:
        problems.append(f"status histogram {status} != {expected['status']}")
    if seq_digest(rows) != expected["digest"]:
        problems.append("node_seq digest differs from stitch_core.flatten")
    stops = {
        r["id"]: [s["id"] for s in r["stops"]]
        for r in table.select(["id", "stops"]).to_pylist()
    }
    if stops != expected["stops"]:
        problems.append("stop ids differ from the relations' stop members")
    return problems


def shingles(text: str, k: int = 9) -> set[bytes]:
    data = text.encode("utf-8") or b"\0"
    k = min(k, len(data))
    return {data[i : i + k] for i in range(len(data) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def check_clusters(
    rows, docs, origin: dict[int, int], threshold: float = 0.5
) -> list[str]:
    """``rows``: (doc_id, component_id) pairs. Every document appears
    once; each component is named by its smallest member; each planted
    variant shares its original's component; and each multi-document
    component is connected by pairs whose exact shingle Jaccard,
    recomputed here, reaches ``threshold``."""
    comp = dict(rows)
    problems = []
    ids = [int(i) for i in docs["doc_id"]]
    if len(rows) != len(ids) or set(comp) != set(ids):
        problems.append(f"{len(rows)} rows for {len(ids)} documents")
        return problems
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        if min(ms) != c:
            problems.append(f"component {c} is not its smallest member {min(ms)}")
    lost = [v for v, o in origin.items() if comp[v] != comp[o]]
    if lost:
        problems.append(f"{len(lost)} planted variants left their original's component")
    text = dict(zip(ids, docs["text"]))
    for c, ms in members.items():
        if len(ms) > 1 and not _connected(ms, text, threshold):
            problems.append(f"component {c} is not connected by Jaccard >= {threshold}")
    return problems


def _connected(ms: list[int], text: dict, threshold: float) -> bool:
    sh = {m: shingles(text[m]) for m in ms}
    seen, todo = {ms[0]}, [ms[0]]
    while todo:
        a = todo.pop()
        for b in ms:
            if b not in seen and jaccard(sh[a], sh[b]) >= threshold:
                seen.add(b)
                todo.append(b)
    return len(seen) == len(ms)


def check_pairs(pairs, docs, threshold: float = 0.5) -> list[str]:
    """``pairs``: (id_a, id_b, n_common, n_union). Each pair's counts
    match the shingle sets recomputed here and reach ``threshold``."""
    text = dict(zip((int(i) for i in docs["doc_id"]), docs["text"]))
    bad = 0
    for a, b, n_common, n_union in pairs:
        sa, sb = shingles(text[a]), shingles(text[b])
        if (len(sa & sb), len(sa | sb)) != (n_common, n_union) or (
            n_common < threshold * n_union
        ):
            bad += 1
    return [f"{bad} of {len(pairs)} pairs fail the exact Jaccard check"] if bad else []


def check_components(comp: dict[int, int], edges) -> list[str]:
    """``comp``: node -> component from connected_components over
    ``edges`` (id pairs). Every node of an edge, and no other, gets the
    smallest id of its connected component, found here by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}
    got = {int(k): int(v) for k, v in comp.items()}
    if got == want:
        return []
    wrong = sum(1 for x in set(got) | set(want) if got.get(x) != want.get(x))
    return [f"{wrong} of {len(want)} nodes have the wrong component"]


def haversine_m(lat1, lon1, lat2, lon2):
    lat1, lon1, lat2, lon2 = map(np.radians, (lat1, lon1, lat2, lon2))
    a = (
        np.sin((lat2 - lat1) / 2) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    )
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def nearest_m(q_lat, q_lon, s_lat, s_lon) -> np.ndarray:
    """Brute-force nearest-stop distance per query."""
    out = np.empty(len(q_lat))
    for i in range(0, len(q_lat), 256):
        d = haversine_m(
            q_lat[i : i + 256, None], q_lon[i : i + 256, None], s_lat[None], s_lon[None]
        )
        out[i : i + 256] = d.min(axis=1)
    return out


def check_ring_knn(found: dict, true_m: dict, covered_m: dict) -> list[str]:
    """Ring-only kNN (k=1): ``found`` maps query -> reported distance.
    A reported neighbour is never nearer than the true nearest; a query
    whose true nearest lies inside the ring's guaranteed radius
    (``covered_m``) must report exactly that distance."""
    bad = 0
    for q, d_true in true_m.items():
        d = found.get(q)
        if d is not None and d < d_true - 1e-6:
            bad += 1
        elif d_true <= covered_m[q] and (d is None or abs(d - d_true) > 1e-6):
            bad += 1
    return [f"{bad} of {len(true_m)} kNN queries disagree with brute force"] if bad else []


def check_cells(got: tuple[int, int], expected: tuple[int, int]) -> list[str]:
    return [] if got == expected else [f"(h3, s2) distinct cells {got} != {expected}"]
