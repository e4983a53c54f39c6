"""Semi-joins (J1/J2) and order-preserving relation hydration (J3).

The reference builds global id-sets behind RwLocks across three file
passes (mod.rs:178-179) and probes hash maps per ref (mod.rs:664-702).
Spark-first equivalents:

* J1/J2 are LEFT SEMI joins on exploded member-id sets. Catalyst picks
  broadcast-hash when the distinct id set is small and falls back to
  shuffle semi-join (+ runtime Bloom filter pushdown) at scale — the
  same cascaded filter effect as the reference's 3-pass scan, without
  re-reading the source.
* J3 (hydration) preserves member order without per-row Python:
  ``posexplode`` keeps the ordinal, inner joins drop dangling refs
  (mod.rs:672,680 semantics), and ``array_sort(collect_list(struct(pos,
  ...)))`` regroups in order. This groupBy is the one wide shuffle of
  the core pipeline; it shuffles only (rel_id, pos, id, lat, lon)
  tuples — a few dozen bytes per node ref.
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


def referenced_node_ids(relations: DataFrame, rel_ways: DataFrame) -> DataFrame:
    """J2 build side: stop-node ids union way-node ids, distinct."""
    stop_ids = relations.select(F.explode("stop_refs").alias("id"))
    way_node_ids = rel_ways.select(F.explode("refs").alias("id"))
    return stop_ids.unionByName(way_node_ids).distinct()


def semi_join_nodes(
    nodes: DataFrame, relations: DataFrame, rel_ways: DataFrame
) -> DataFrame:
    """J2: keep only nodes referenced by surviving relations/ways."""
    return nodes.join(referenced_node_ids(relations, rel_ways), "id", "left_semi")


def hydrated_node_rows(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """J3, fused form: the exploded (rel_id, way_pos, node_pos, node_id,
    lat, lon) rows with dangling refs dropped — no regroup shuffle; the
    stitch UDF groups by rel_id directly and rebuilds way order from
    (way_pos, node_pos). One shuffle less than hydrate_way_nodes."""
    rel_ways = relations.selectExpr(
        "id AS rel_id", "posexplode(way_refs) AS (way_pos, way_id)"
    ).join(ways.selectExpr("id AS way_id", "refs"), "way_id", "inner")
    return (
        rel_ways.selectExpr(
            "rel_id", "way_pos", "posexplode(refs) AS (node_pos, node_id)"
        )
        .join(nodes.selectExpr("id AS node_id", "lat", "lon"), "node_id", "inner")
        .selectExpr("rel_id", "way_pos", "node_pos", "node_id", "lat", "lon")
    )


def hydrate_way_nodes(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """J3: one row per (rel_id, way_pos) with ordered node id/lat/lon arrays.

    Inner joins implement the reference's drop-dangling-refs semantics;
    member ways whose refs ALL dangle simply produce no row (the
    reference would panic on them inside first_pass — SURVEY §2.1
    quirk 7 — so dropping is the documented divergence).
    """
    rel_ways = relations.select(
        F.col("id").alias("rel_id"),
        F.posexplode("way_refs").alias("way_pos", "way_id"),
    ).join(
        ways.select(F.col("id").alias("way_id"), "refs"),
        "way_id",
        "inner",
    )
    way_nodes = rel_ways.select(
        "rel_id",
        "way_pos",
        F.posexplode("refs").alias("node_pos", "node_id"),
    ).join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon"),
        "node_id",
        "inner",
    )
    return (
        way_nodes.groupBy("rel_id", "way_pos")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("node_pos", "node_id", "lat", "lon"))
            ).alias("nds")
        )
        .select(
            "rel_id",
            "way_pos",
            F.transform("nds", lambda x: x["node_id"]).alias("node_ids"),
            F.transform("nds", lambda x: x["lat"]).alias("lats"),
            F.transform("nds", lambda x: x["lon"]).alias("lons"),
        )
    )


def single_way_node_rows(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Flat (rel_id=way id, way_pos=0, node_pos, node_id, lat, lon) rows
    for standalone filter-matched ways (area branch, mod.rs:596-647) —
    the input shape of ``stitch_node_rows_partitioned``. Replaces the
    hydrate_single_ways + per-group stitch() shape on the hot path:
    no regroup shuffle here, one partition-level Arrow pass there."""
    return ways.select(
        F.col("id").alias("rel_id"),
        F.lit(0).alias("way_pos"),
        F.posexplode("refs").alias("node_pos", "node_id"),
    ).join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon"),
        "node_id",
        "inner",
    ).select("rel_id", "way_pos", "node_pos", "node_id", "lat", "lon")


def hydrate_single_ways(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """J3 for standalone filter-matched ways (area branch, mod.rs:596-647):
    each way is its own stitch group keyed by way id."""
    way_nodes = ways.select(
        F.col("id").alias("rel_id"),
        F.lit(0).alias("way_pos"),
        F.posexplode("refs").alias("node_pos", "node_id"),
    ).join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon"),
        "node_id",
        "inner",
    )
    return (
        way_nodes.groupBy("rel_id", "way_pos")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("node_pos", "node_id", "lat", "lon"))
            ).alias("nds")
        )
        .select(
            "rel_id",
            "way_pos",
            F.transform("nds", lambda x: x["node_id"]).alias("node_ids"),
            F.transform("nds", lambda x: x["lat"]).alias("lats"),
            F.transform("nds", lambda x: x["lon"]).alias("lons"),
        )
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
