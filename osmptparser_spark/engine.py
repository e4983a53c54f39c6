"""High-level engine API: the reference's three entry points, Spark-first.

``get_public_transports`` == Parser::get_public_transports (mod.rs:511-527),
``get_areas`` == Parser::get_areas (mod.rs:580-654), over entity
DataFrames from any source (PBF, pages extraction, parquet). Output is
deterministic relative to the reference's thread-nondeterministic
ordering: callers sort explicitly (the reference's own test sorts too,
tests/integration_test.rs:7-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.tagfilter import compile_tag_filter, line_prefilter
from .operators.hydrate import (
    hydrate_stops,
    hydrated_node_rows,
    semi_join_ways,
    single_way_node_rows,
)
from .operators.stitch import stitch_node_rows_partitioned
from .sources.pages import extract_nodes_sql, extract_relations_sql, extract_ways_sql

_EMPTY_GEOM = "CAST(array() AS ARRAY<ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>>)"
_EMPTY_SEQ = "CAST(array() AS ARRAY<ARRAY<BIGINT>>)"
_EMPTY_STOPS = (
    "CAST(array() AS ARRAY<STRUCT<id: BIGINT, lat: DOUBLE, lon: DOUBLE, "
    "tags: MAP<STRING,STRING>>>)"
)


def filter_relations(relations: DataFrame, conditions: str | None) -> DataFrame:
    """F1 + F3: tag-predicate filter (skipped when ``conditions`` is
    empty) plus drop relations with no way members (mod.rs:253-257)."""
    keep = F.expr("size(way_refs) > 0")
    if conditions:
        keep = compile_tag_filter(conditions) & keep
    return relations.where(keep)


def filter_ways(ways: DataFrame, conditions: str | None) -> DataFrame:
    """F2 + F4: tag-predicate filter (skipped when ``conditions`` is
    empty) plus drop ways with no node refs (mod.rs:380-387)."""
    keep = F.expr("size(refs) > 0")
    if conditions:
        keep = compile_tag_filter(conditions) & keep
    return ways.where(keep)


def _finalize(relations: DataFrame, stitched: DataFrame, stops: DataFrame | None):
    """Join stitch results (and stops) back onto relation metadata.

    LEFT joins: a relation whose member ways all dangled produces no
    stitch group; the reference's flatten_ways on an empty list yields
    501 Broken + empty geometry (relation.rs:233-235) — coalesce
    reproduces that.
    """
    out = relations.selectExpr("id AS rel_id", "tags", "info").join(
        stitched, "rel_id", "left"
    )
    cols = [
        "rel_id AS id",
        "tags",
        "info",
        f"coalesce(geometry, {_EMPTY_GEOM}) AS geometry",
        f"coalesce(node_seq, {_EMPTY_SEQ}) AS node_seq",
        "coalesce(status_code, 501) AS status_code",
        "coalesce(status_detail, 'Broken') AS status_detail",
    ]
    if stops is not None:
        out = out.join(stops, "rel_id", "left")
        cols.append(f"coalesce(stops, {_EMPTY_STOPS}) AS stops")
    return out.selectExpr(*cols)


def _extract_pages(pages: DataFrame, conditions: str | None):
    """The pages preamble of both modes: (nodes, ways, relations, line
    prefilter).

    The tag filter is pushed down as a string prefilter on raw relation
    lines (sound: may only over-select; the exact map filter runs after
    parsing). The prefiltered relation table is cached: it has three
    consumers, and the cache is a pushdown barrier — without it Catalyst
    merges the exact ``from_json`` filter into the line-scan predicate
    and evaluates it on every line before the cheap string conjuncts
    can reject it (measured: 240 s -> ~20 s on 80k pages at local[16]).
    What is cached is O(filter-matched relations), never O(pages)
    (asserted by test_spark_pipeline.py::TestCacheBarrierContract).
    """
    pre = line_prefilter(conditions) if conditions else None
    relations = extract_relations_sql(pages, line_filter=pre).cache()
    return extract_nodes_sql(pages), extract_ways_sql(pages), relations, pre


def routes_from_pages(
    pages: DataFrame, gap_m: float = 150.0, conditions: str | None = None
) -> DataFrame:
    """:func:`get_public_transports` over a pages table."""
    nodes, ways, relations, _ = _extract_pages(pages, conditions)
    return get_public_transports(nodes, ways, relations, gap_m, conditions)


def areas_from_pages(
    pages: DataFrame, gap_m: float = 150.0, conditions: str | None = None
) -> DataFrame:
    """:func:`get_areas` over a pages table. The way branch reads way
    lines through the same prefilter; the relation-member semi-join
    reads them unfiltered."""
    nodes, ways, relations, pre = _extract_pages(pages, conditions)
    return _areas(
        nodes, ways, relations, gap_m, conditions,
        extract_ways_sql(pages, line_filter=pre),
    )


def par_map(df: DataFrame, fn, schema: str) -> DataFrame:
    """Parity convenience for the reference's ``par_map(custom_fn)``
    (mod.rs:532-576: apply an arbitrary user function to every parsed
    entity on a worker pool). Spark-first translation: any DataFrame
    transformation IS the equivalent; this wrapper covers the
    imperative case — a per-row Python function — by running it inside
    ``mapInPandas`` (Arrow batches, executor-parallel, no driver
    collect). ``fn``: dict -> dict; ``schema``: output DDL.

    Prefer built-in column expressions whenever the function is
    expressible — this wrapper is the slow path by design.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([fn(row) for row in pdf.to_dict("records")])

    return df.mapInPandas(gen, schema)


def iter_rows(df: DataFrame, order_by: str = "id"):
    """X4 parity (mod.rs:737-742): sequential driver-side iteration,
    deterministic order (the reference's iterator order is insertion
    order; ours is explicit)."""
    return df.orderBy(order_by).toLocalIterator()


def get_public_transports(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    gap_m: float = 150.0,
    conditions: str | None = None,
) -> DataFrame:
    """Route mode (closed=False): one row per relation with stops,
    multi-linestring geometry (lon,lat), and parse status.

    ``conditions`` optionally applies the F1 tag filter here; pass
    pre-filtered relations otherwise.
    """
    rel = filter_relations(relations, conditions)
    rel_ways = semi_join_ways(ways, rel)
    node_rows = hydrated_node_rows(rel, rel_ways, nodes)
    stitched = stitch_node_rows_partitioned(node_rows, gap_m, closed=False)
    stops = hydrate_stops(rel, nodes)
    return _finalize(rel, stitched, stops)


def get_areas(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    gap_m: float = 150.0,
    conditions: str | None = None,
) -> DataFrame:
    """Area mode: relation areas (id_type 'r') union standalone
    filter-matched way areas (id_type 'w'), rings closed within
    tolerance (mod.rs:580-654)."""
    return _areas(nodes, ways, relations, gap_m, conditions, ways)


def _areas(nodes, ways, relations, gap_m, conditions, way_candidates):
    """Area pipeline body; ``way_candidates`` feed the standalone way
    branch (all ways, or the line-prefiltered ways of a pages table)."""
    rel = filter_relations(relations, conditions)
    node_rows = hydrated_node_rows(rel, semi_join_ways(ways, rel), nodes)
    rel_areas = _finalize(
        rel, stitch_node_rows_partitioned(node_rows, gap_m, closed=True), None
    )
    std_ways = filter_ways(way_candidates, conditions)
    way_areas = _finalize(
        std_ways,
        stitch_node_rows_partitioned(
            single_way_node_rows(std_ways, nodes), gap_m, closed=True
        ),
        None,
    )
    cols = ["tags", "info", "geometry", "node_seq", "status_code", "status_detail"]
    return rel_areas.selectExpr("id", "'r' AS id_type", *cols).unionByName(
        way_areas.selectExpr("id", "'w' AS id_type", *cols)
    )
