"""Semi-join (J1) and order-preserving hydration (J3).

The reference builds global id-sets behind RwLocks across three file
passes (mod.rs:178-179) and probes hash maps per ref (mod.rs:664-702).
Spark-first equivalents:

* J1 is a LEFT SEMI join on the exploded member-way id set. Catalyst
  picks broadcast-hash when the distinct id set is small and falls back
  to shuffle semi-join (+ runtime Bloom filter pushdown) at scale — the
  same cascaded filter effect as the reference's 3-pass scan, without
  re-reading the source. Nodes need no semi-join of their own (J2): the
  inner node joins below already drop every node nothing references.
* J3 (hydration) preserves member order without per-row Python:
  ``posexplode`` keeps the ordinals and inner joins drop dangling refs
  (mod.rs:672,680 semantics). Way geometry stays flat — one row per
  (rel_id, way_pos, node_pos) — and the partition-level stitch rebuilds
  member order from the ordinals, so hydration adds no regroup shuffle.
  Stops regroup per relation in ``hydrate_stops``.

Every plan here is built from SQL text (``selectExpr``), one Py4J
round trip per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def relation_way_ids(relations: DataFrame) -> DataFrame:
    """Distinct way ids referenced by any relation (build side of J1)."""
    return relations.selectExpr("explode(way_refs) AS id").distinct()


def semi_join_ways(ways: DataFrame, relations: DataFrame) -> DataFrame:
    """J1: keep only ways that are members of a surviving relation."""
    return ways.join(relation_way_ids(relations), "id", "left_semi")


def _with_coords(node_refs: DataFrame, nodes: DataFrame) -> DataFrame:
    """(rel_id, way_pos, node_pos, node_id) refs -> the stitch input rows
    (the same plus lat, lon); the inner join drops dangling node refs."""
    return node_refs.join(
        nodes.selectExpr("id AS node_id", "lat", "lon"), "node_id", "inner"
    ).selectExpr("rel_id", "way_pos", "node_pos", "node_id", "lat", "lon")


def hydrated_node_rows(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """J3 for relations: the exploded (rel_id, way_pos, node_pos,
    node_id, lat, lon) rows of every member way, dangling way and node
    refs dropped."""
    rel_ways = relations.selectExpr(
        "id AS rel_id", "posexplode(way_refs) AS (way_pos, way_id)"
    ).join(ways.selectExpr("id AS way_id", "refs"), "way_id", "inner")
    return _with_coords(
        rel_ways.selectExpr(
            "rel_id", "way_pos", "posexplode(refs) AS (node_pos, node_id)"
        ),
        nodes,
    )


def single_way_node_rows(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """J3 for standalone filter-matched ways (area branch,
    mod.rs:596-647): the same rows as :func:`hydrated_node_rows`, each
    way a one-member group keyed by its own id (rel_id = way id,
    way_pos = 0)."""
    return _with_coords(
        ways.selectExpr(
            "id AS rel_id", "0 AS way_pos", "posexplode(refs) AS (node_pos, node_id)"
        ),
        nodes,
    )


def hydrate_stops(relations: DataFrame, nodes: DataFrame) -> DataFrame:
    """Ordered stop-node hydration: one row per relation with
    stops ARRAY<STRUCT<id,lat,lon,tags>> in member order, dangling
    refs dropped (mod.rs:690-700)."""
    stops = relations.selectExpr(
        "id AS rel_id", "posexplode(stop_refs) AS (stop_pos, node_id)"
    ).join(
        nodes.selectExpr("id AS node_id", "lat", "lon", "tags"), "node_id", "inner"
    )
    # struct contains a MAP (not orderable) -> sort with a comparator
    # on the ordinal instead of natural struct ordering
    return stops.groupBy("rel_id").agg(
        F.expr(
            "transform("
            "array_sort("
            "collect_list(struct(stop_pos, node_id, lat, lon, tags)), "
            "(l, r) -> CASE WHEN l.stop_pos < r.stop_pos THEN -1 "
            "WHEN l.stop_pos > r.stop_pos THEN 1 ELSE 0 END), "
            "x -> struct(x.node_id AS id, x.lat AS lat, x.lon AS lon, x.tags AS tags)"
            ") AS stops"
        )
    )
